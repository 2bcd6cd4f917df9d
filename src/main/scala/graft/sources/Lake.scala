package graft.sources

import org.apache.spark.sql.graft.CheckpointOps.FenceSyntax
import graft.{QueryDef, Tables}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal versioned table layout — the lakehouse primitives a corpus
  * store needs that plain parquet directories lack: atomic MERGE-style
  * upsert, snapshot (time-travel) reads, and a commit protocol that
  * survives concurrent writers.
  *
  * Layout: one immutable data directory per commit (`root/v=N-<tok>`,
  * token-suffixed so two writers racing for the same version number
  * never collide on a data path) plus a `root/_versions/` manifest
  * directory holding ONE MARKER FILE PER VERSION: `_versions/N`
  * contains the name of version N's data directory. The marker is
  * created LAST with `FileSystem.create(..., overwrite = false)` — a
  * conditional create, so (a) a writer crash after data files but
  * before the marker leaves the table at the previous version
  * (write-audit-publish), and (b) two writers publishing the same
  * version number race on the marker create and exactly one wins —
  * the loser sees FileAlreadyExists, discards its orphan data
  * directory, and retries against the new tip (the Delta/Iceberg
  * optimistic-concurrency discipline). Readers list committed versions
  * from the marker directory only, so orphan data directories are
  * invisible. No timestamps anywhere: versions are dense integers, so
  * runs are deterministic.
  *
  * All manifest I/O goes through the Hadoop `FileSystem` for the
  * table root's scheme — the store works wherever Spark can write
  * parquet (local and HDFS natively; S3-class object stores through
  * the [[ObjectStoreCoordinator]] conditional-PUT commit binding),
  * not just driver-visible POSIX paths.
  *
  * Scale notes: upsert is COPY-ON-WRITE — one key-partitioned
  * full-outer join of the current snapshot against the (typically
  * small, broadcastable) update set, rewritten as the next version.
  * At 100 TB the COW rewrite is the honest baseline (and what Delta/
  * Iceberg do per touched file); a merge-on-read layout (base + delta
  * files compacted lazily, the reader resolving latest-by-key) is the
  * write-optimized alternative and composes from these same pieces.
  * Snapshot reads are pure directory selection, so time travel costs
  * nothing at read time and old versions vacuum by deleting
  * directories.
  */
object Lake {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed (number → data-directory) entries under `root/<sub>`,
    * sorted by version number. Listing + one tiny read per marker —
    * the same cost profile as a Delta log replay, O(commits) small
    * files, no data I/O.
    */
  private def markers(spark: SparkSession, root: String, sub: String): Seq[(Int, String)] = {
    val dir = new Path(root, sub)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) Seq.empty
    else
      fs.listStatus(dir).toSeq
        .flatMap(st => st.getPath.getName.toIntOption.map(_ -> st.getPath))
        .sortBy(_._1)
        .flatMap { case (n, p) =>
          // a marker listed a moment ago may be vacuumed before we
          // open it — skip it, upholding "a reader sees a complete
          // version or none", never a crash
          try {
            val in = fs.open(p)
            val body =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
            Some(n -> body)
          } catch { case _: java.io.FileNotFoundException => None }
        }
  }

  /** The ONE primitive the whole commit protocol needs from storage:
    * atomically publish `body` at `path` iff no marker is there, false
    * when the slot is already taken (the losing side of a race). This
    * is the pluggable coordinator seam with three supported bindings:
    * HDFS gets it from the namespace (`create(overwrite=false)` is a
    * server-side check), the local filesystem from a POSIX hard link
    * (below), and S3-class object stores from
    * [[ObjectStoreCoordinator]] — winner selection in the store's own
    * conditional PUT — the SAME seam Delta (S3 commit coordinator) and
    * Iceberg (catalog compare-and-swap) expose. Swapping stores means
    * swapping only this trait's binding, never Lake's logic;
    * [[Lake.withCoordinator]] injects one (LakeSpec proves a
    * lock-serialized coordinator linearizes two racing publishers even
    * over a deliberately non-atomic base primitive).
    */
  trait CommitCoordinator {
    def publish(fs: FileSystem, path: Path, body: String): Boolean
  }

  /** Default binding: per-scheme conditional create.
    *
    * `file://` publishes via a POSIX hard link: the body is written to
    * a private temp name, then `Files.createLink(marker, tmp)` — an
    * atomic syscall that fails with EEXIST when the slot is taken and
    * makes the FULL body visible in the same instant (RawLocalFileSystem's
    * `create(overwrite=false)` is a client-side exists-then-create
    * TOCTOU, and create-then-write would expose readers to an empty
    * marker). Everything else uses Hadoop `create(overwrite = false)`
    * — atomic on HDFS, the filesystem class the default targets.
    */
  object ConditionalCreate extends CommitCoordinator {
    def publish(fs: FileSystem, path: Path, body: String): Boolean =
      if (fs.getScheme == "file") {
        import java.nio.file.{Files, Paths, StandardOpenOption}
        val marker = Paths.get(path.toUri.getPath)
        val tmp = marker.resolveSibling(
          s".${path.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        Files.write(tmp, body.getBytes("UTF-8"),
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
        try { Files.createLink(marker, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally Files.deleteIfExists(tmp)
      } else {
        try {
          val out = fs.create(path, false) // fails if the slot is taken
          try out.write(body.getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      }
  }

  /** The two calls an S3-class object store must supply for the commit
    * protocol — the surface every major store exposes natively:
    * conditional PUT (`If-None-Match: *` on S3 and Azure Blob,
    * `ifGenerationMatch=0` on GCS — succeeds only when the key is
    * absent, the server is the arbiter) and a plain GET. The store is
    * INJECTED rather than bound to a vendor SDK (this sandbox is
    * zero-egress); a production binding maps these 1:1 onto the
    * client's put-with-precondition and get calls and changes nothing
    * else in Lake.
    */
  trait ConditionalObjectStore {
    /** Atomic put-if-absent: true = object created (HTTP 200), false =
      * key already exists (HTTP 412 Precondition Failed). Must be
      * linearizable — exactly one of N concurrent callers wins.
      */
    def putIfAbsent(key: String, body: Array[Byte]): Boolean

    /** Read a committed object; None when the key is absent. */
    def get(key: String): Option[Array[Byte]]
  }

  /** In-memory [[ConditionalObjectStore]]: ConcurrentHashMap.putIfAbsent
    * is the same linearizable compare-and-swap the real store's
    * conditional PUT provides, so race tests exercise the identical
    * winner-selection semantics.
    */
  final class InMemoryObjectStore extends ConditionalObjectStore {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    def putIfAbsent(key: String, body: Array[Byte]): Boolean =
      m.putIfAbsent(key, body) == null
    def get(key: String): Option[Array[Byte]] = Option(m.get(key))
  }

  /** Object-store commit binding: the conditional PUT on the STORE is
    * the linearization point — the filesystem marker that [[markers]]
    * lists becomes a backfilled projection of it. The discipline is
    * Delta's S3 commit-coordinator shape: a store without atomic
    * create-if-absent rename still gets a linear history because
    * winner selection happens in one server-side CAS, and the
    * readable marker is (re)materialized idempotently afterwards.
    *
    * publish():
    *   1. `putIfAbsent(markerKey, body)` — the commit instant.
    *   2. Winner: write the fs marker (overwrite is safe — the store
    *      already serialized this slot, and the bytes equal the
    *      store's committed body).
    *   3. Loser: if the fs marker is MISSING, backfill it from the
    *      store's committed body before returning false — this
    *      completes a winner that crashed between store-commit and
    *      fs-write, so a committed version can never stay invisible
    *      and wedge the table (the "unbackfilled commit" hazard).
    */
  final class ObjectStoreCoordinator(store: ConditionalObjectStore)
      extends CommitCoordinator {
    /** Materialize the fs marker ATOMICALLY: write a private temp name
      * and rename into place. A truncate+overwrite (`fs.create(path,
      * true)`) would let a concurrent `markers()` listing observe an
      * empty/partial marker while a loser backfills mid-winner-write;
      * rename is all-or-nothing, and since every writer of this slot
      * carries the store's committed (byte-identical) body, losing the
      * rename race just means the marker already exists — drop the temp.
      */
    private def writeMarker(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
      if (fs.exists(path)) return // already materialized, body is byte-identical
      val tmp = new Path(path.getParent,
        s".${path.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, path)) fs.delete(tmp, false)
    }
    def publish(fs: FileSystem, path: Path, body: String): Boolean = {
      val key = path.toUri.getPath
      val bytes = body.getBytes("UTF-8")
      if (store.putIfAbsent(key, bytes)) { writeMarker(fs, path, bytes); true }
      else {
        if (!fs.exists(path)) store.get(key).foreach(writeMarker(fs, path, _))
        false
      }
    }
  }

  @volatile private var coordinator: CommitCoordinator = ConditionalCreate

  /** Run `f` with `c` bound as the commit coordinator (test/alternate-
    * store injection point; the binding is process-wide, like the
    * stores it models).
    */
  def withCoordinator[T](c: CommitCoordinator)(f: => T): T = {
    val prev = coordinator
    coordinator = c
    try f finally coordinator = prev
  }

  /** Conditional-create of marker `root/<sub>/<n>` naming `dataDir`.
    * Returns false (without disturbing the existing marker) when
    * version `n` is already committed — the losing side of a
    * concurrent publish. Atomicity delegates to the bound
    * [[CommitCoordinator]].
    */
  private def createMarker(spark: SparkSession, root: String, sub: String,
      n: Int, dataDir: String): Boolean = {
    val dir = new Path(root, sub)
    val fs = fsFor(spark, dir)
    fs.mkdirs(dir)
    coordinator.publish(fs, new Path(dir, n.toString), dataDir)
  }

  /** Write `df` under a token-suffixed directory no other writer can
    * pick, returning the directory name the marker will publish.
    */
  private def writeData(df: DataFrame, root: String, label: String, n: Int,
      partitionBy: Seq[String] = Nil): String = {
    val tok = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"$label=$n-$tok"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(s"$root/$dirName")
    dirName
  }

  private def dropData(spark: SparkSession, root: String, dirName: String): Unit = {
    val p = new Path(root, dirName)
    fsFor(spark, p).delete(p, true)
  }

  /** Committed versions (empty if the table does not exist yet). */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    markers(spark, root, "_versions").map(_._1)

  /** Optimistic-concurrency commit: publish `df` as version
    * `expected + 1` and return it, or None when another writer already
    * committed that version — the caller must re-read the new tip,
    * re-derive its changes, and try again (the data written for the
    * losing attempt is cleaned up here).
    */
  def commitVersionAt(spark: SparkSession, df: DataFrame, root: String,
      expected: Int): Option[Int] = {
    val n = expected + 1
    val dirName = writeData(df, root, "v", n)
    if (createMarker(spark, root, "_versions", n, dirName)) Some(n)
    else { dropData(spark, root, dirName); None }
  }

  /** Write `df` as the next version; returns its number. The commit
    * does not depend on the base content, so a lost race just retries
    * the marker create at the next slot — the data directory is reused
    * (its name carries the attempted number only for debuggability;
    * the marker is the source of truth).
    */
  def commitVersion(spark: SparkSession, df: DataFrame, root: String): Int = {
    var n = versions(spark, root).lastOption.map(_ + 1).getOrElse(0)
    val dirName = writeData(df, root, "v", n)
    var attempts = 0
    while (!createMarker(spark, root, "_versions", n, dirName)) {
      attempts += 1
      require(attempts < 100, s"commit contention on $root: gave up after $attempts slots")
      n = versions(spark, root).last + 1
    }
    n
  }

  /** Partition-spec evolution (the Iceberg headline feature Hive-era
    * tables cannot do without a full rewrite): commit `df` as the next
    * version with a HIVE-PARTITIONED data layout — `partCols` become
    * directory keys (`col=value/`) inside this version's data dir,
    * while every earlier version keeps whatever layout it was written
    * with. Because each version owns its data directory outright, the
    * spec change is purely forward-looking: time travel, vacuum, CDC
    * and clones all keep working unmodified, and [[readVersion]]
    * restores the partition columns through Spark's partition
    * discovery (values round-trip through the path escaping layer —
    * spaces and specials included; they come back as STRING columns,
    * the discovery contract). Readers filtering on a partition column
    * prune whole directories before any file I/O (PartitionFilters,
    * not row-group stats) — the scan never even lists the pruned
    * files, which at 100 TB is the difference between a metadata
    * operation and a cluster-wide list+skip. Same OCC marker protocol
    * as [[commitVersion]].
    */
  def commitVersionPartitioned(spark: SparkSession, df: DataFrame, root: String,
      partCols: Seq[String]): Int = {
    require(partCols.nonEmpty, "partition evolution needs at least one partition column")
    var n = versions(spark, root).lastOption.map(_ + 1).getOrElse(0)
    val dirName = writeData(df, root, "v", n, partCols)
    var attempts = 0
    while (!createMarker(spark, root, "_versions", n, dirName)) {
      attempts += 1
      require(attempts < 100, s"commit contention on $root: gave up after $attempts slots")
      n = versions(spark, root).last + 1
    }
    n
  }

  /** A marker body is normally a directory name relative to the table
    * root; a shallow clone's borrowed version stores an absolute
    * source path instead.
    */
  private def resolveData(root: String, dirName: String): String =
    if (dirName.startsWith("/") || dirName.contains(":/")) dirName
    else s"$root/$dirName"

  /** Snapshot read: latest version, or the requested one. */
  def readVersion(spark: SparkSession, root: String, v: Option[Int] = None): DataFrame = {
    val ms = markers(spark, root, "_versions")
    require(ms.nonEmpty, s"no committed versions under $root")
    val pick = v.getOrElse(ms.last._1)
    val dir = ms.collectFirst { case (`pick`, d) => d }
    require(dir.isDefined,
      s"version $pick not committed (have ${ms.map(_._1).mkString(",")})")
    spark.read.parquet(resolveData(root, dir.get))
  }

  /** MERGE-style upsert: rows of `updates` replace current rows with
    * the same key WHOLE-ROW (an update row's null column really sets
    * null — SQL MERGE UPDATE semantics, matching readResolved's
    * latest-wins rows); unmatched update rows insert; unmatched
    * current rows carry over. One full-outer join keyed on `key` —
    * updates broadcast when small, the snapshot side shuffles once on
    * the key. Committed with the OCC protocol: a concurrent commit
    * between our snapshot read and our publish fails the publish, and
    * the merge re-derives against the new tip — no lost updates.
    */
  def upsert(spark: SparkSession, updates: DataFrame, root: String, key: String): Int = {
    var attempts = 0
    while (true) {
      val base = versions(spark, root).lastOption
        .getOrElse(throw new IllegalArgumentException(s"no committed versions under $root"))
      val cur = readVersion(spark, root, Some(base))
      val cols = cur.columns
      // matched-marker sentinel: derived to dodge the table's own
      // columns — a user table legitimately named `_u` would otherwise
      // make the join emit ambiguous sentinel columns and misclassify
      val sentinel = Iterator.from(0).map(i => "_u" + ("_" * i))
        .find(s => !cols.contains(s)).get
      val merged = cur.as("b")
        .join(updates.withColumn(sentinel, lit(1)).as("u"), Seq(key), "full_outer")
        .select(cols.map {
          case `key` => col(key)
          case c => when(col(s"u.$sentinel").isNotNull, col(s"u.$c"))
            .otherwise(col(s"b.$c")).as(c)
        }: _*)
      commitVersionAt(spark, merged, root, base) match {
        case Some(v) => return v
        case None =>
          attempts += 1
          require(attempts < 20, s"upsert contention on $root: lost $attempts races")
      }
    }
    -1 // unreachable
  }

  /** COW delete: commit the next version without the matching rows,
    * under the same OCC retry discipline as [[upsert]].
    */
  def deleteWhere(spark: SparkSession, root: String, cond: String): Int = {
    var attempts = 0
    while (true) {
      val base = versions(spark, root).last
      val next = readVersion(spark, root, Some(base)).where(s"NOT ($cond)")
      commitVersionAt(spark, next, root, base) match {
        case Some(v) => return v
        case None =>
          attempts += 1
          require(attempts < 20, s"delete contention on $root: lost $attempts races")
      }
    }
    -1 // unreachable
  }

  /** Full ANSI MERGE (COW): ONE commit applying all three WHEN clauses
    * against the latest version, matched on `key`:
    *   WHEN MATCHED AND <deleteCond on the source row> THEN DELETE;
    *   WHEN MATCHED THEN UPDATE SET * (whole source row wins);
    *   WHEN NOT MATCHED AND NOT <deleteCond> THEN INSERT *.
    * Unmatched target rows pass through; an unmatched source row whose
    * deleteCond holds is a no-op (ANSI: a DELETE clause only fires on a
    * match). A NULL deleteCond follows ANSI three-valued clause
    * gating: on a MATCHED pair the DELETE clause does not fire and the
    * row falls through to UPDATE; on an UNMATCHED source row `NOT
    * <cond>` is unknown, so the INSERT clause does not fire either —
    * the row is a no-op, NOT an insert. `deleteCond` is evaluated over
    * the SOURCE row's columns
    * before the join (so same-named base columns can never capture it).
    * `source` must be key-unique — the ANSI "cardinality violation"
    * rule (two source rows hitting one target row has no deterministic
    * result); enforced with one bounded aggregate, the appendDelta
    * discipline. Same OCC commit-retry as [[upsert]]; the plan is ONE
    * full-outer key shuffle of base ⋈ source — the minimal COW merge
    * exchange, and a base bucketed on `key` at rest co-partitions even
    * that away at 100 TB.
    */
  def merge(spark: SparkSession, source: DataFrame, root: String, key: String,
            deleteCond: String): Int = {
    require(
      source.groupBy(key).count().where("count > 1").limit(1).count() == 0,
      s"merge source has duplicate $key rows (ANSI cardinality violation)")
    var attempts = 0
    while (true) {
      val base = versions(spark, root).lastOption
        .getOrElse(throw new IllegalArgumentException(s"no committed versions under $root"))
      val cur = readVersion(spark, root, Some(base))
      val cols = cur.columns
      // every marker uniques against BOTH sides: su/sd are added to the
      // SOURCE frame, so a source column literally named "_u"/"_del"
      // would be silently overwritten by withColumn before deleteCond
      // evaluates (a deleteCond referencing it would then read the
      // constant marker — wrong rows deleted with no error); sb sits on
      // the base side of the same join, same collision class.
      val allCols = cols ++ source.columns
      def marker(stem: String): String = Iterator.from(0)
        .map(i => stem + ("_" * i)).find(s => !allCols.contains(s)).get
      val su = marker("_u")
      val sd = marker("_del")
      val sb = marker("_b")
      val src = source
        .withColumn(su, lit(1))
        .withColumn(sd, expr(deleteCond))
      val merged = cur.withColumn(sb, lit(1)).as("b")
        .join(src.as("u"), Seq(key), "full_outer")
        // three-valued clause gating on the survivor predicate:
        //   target-only row            → passes through;
        //   MATCHED pair               → dropped only when deleteCond
        //     IS TRUE (NULL falls through to UPDATE, ANSI);
        //   unmatched source row       → inserted only when deleteCond
        //     IS FALSE (TRUE and NULL both leave the INSERT clause
        //     unfired — a NULL condition must not insert).
        .where(s"u.$su IS NULL" +
          s" OR (b.$sb IS NOT NULL AND NOT (u.$sd <=> true))" +
          s" OR (b.$sb IS NULL AND u.$sd <=> false)")
        .select(cols.map {
          case `key` => col(key)
          case c => when(col(s"u.$su").isNotNull, col(s"u.$c"))
            .otherwise(col(s"b.$c")).as(c)
        }: _*)
      commitVersionAt(spark, merged, root, base) match {
        case Some(v) => return v
        case None =>
          attempts += 1
          require(attempts < 20, s"merge contention on $root: lost $attempts races")
      }
    }
    -1 // unreachable
  }

  // ------------------------------------------------- merge-on-read
  // The write-optimized twin of [[upsert]]: an upsert APPENDS a small
  // delta file (no base rewrite — O(update) write cost instead of
  // O(table)), and the reader resolves latest-by-key across base +
  // deltas. Resolution is one key shuffle with a per-key bounded
  // window (rows per key = 1 + times it was updated); compaction folds
  // the deltas back into a fresh base with identical content. Delta
  // markers live under `root/_deltas/` with the same conditional-
  // create publish as versions, so concurrent appenders serialize into
  // a linear seq order instead of overwriting each other.

  private def deltaSeqs(spark: SparkSession, root: String): Seq[(Int, String)] =
    markers(spark, root, "_deltas")

  /** Append `updates` as the next delta (seq ordering = resolution
    * priority, later wins). `key` must be unique within the batch —
    * enforced here, because [[readResolved]]'s latest-seq-wins rule
    * has no deterministic winner among duplicates of one delta (one
    * bounded aggregate over the update set, which is small by the MOR
    * contract). Same manifest-last conditional-create publish as
    * [[commitVersionAt]], retried at successive seq slots on
    * contention (a delta's content, like an append, does not depend
    * on the base).
    */
  def appendDelta(spark: SparkSession, updates: DataFrame, root: String,
      key: String): Int = {
    // the duplicate-key guard rides INSIDE the delta-write job — a
    // key-partitioned count window feeding assert_true in a filter
    // predicate — instead of a separate pre-scan aggregate job per
    // append (the r10 eager check cost s15_mor_resolve two extra jobs
    // per fixture run). A violating batch fails the write before any
    // marker publishes, so the table state is untouched (the orphan
    // data files are vacuum's normal debris).
    val kc = Iterator.from(0).map(i => "_kc" + ("_" * i))
      .find(s => !updates.columns.contains(s)).get
    val guarded = updates
      .withColumn(kc,
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col(key))))
      .where(expr(s"ifnull(assert_true($kc = 1, " +
        s"'delta batch has duplicate $key values — latest-wins resolution would be nondeterministic'), true)"))
      .drop(kc)
    var s = deltaSeqs(spark, root).lastOption.map(_._1 + 1).getOrElse(1)
    val dupMsg = s"delta batch has duplicate $key values — " +
      "latest-wins resolution would be nondeterministic"
    val dirName =
      try writeData(guarded, root, "d", s)
      catch {
        // unwrap the task-failure chain back to the contract exception
        case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains("duplicate " + key))) =>
          throw new IllegalArgumentException(dupMsg, e)
      }
    var attempts = 0
    while (!createMarker(spark, root, "_deltas", s, dirName)) {
      attempts += 1
      require(attempts < 100, s"delta contention on $root: gave up after $attempts slots")
      s = deltaSeqs(spark, root).last._1 + 1
    }
    s
  }

  /** Resolve base + deltas to the current logical table: per key, the
    * highest-seq row wins (base = seq 0; keys are unique per delta by
    * [[appendDelta]]'s contract and per base by [[upsert]]'s key
    * semantics, so the winner is deterministic). One shuffle on the
    * key; the per-key window is bounded by that key's update count.
    */
  def readResolved(spark: SparkSession, root: String, key: String): DataFrame =
    readResolvedAt(spark, root, key, deltaSeqs(spark, root))

  private def readResolvedAt(spark: SparkSession, root: String, key: String,
      deltas: Seq[(Int, String)]): DataFrame = {
    val base = readVersion(spark, root).withColumn("_seq", lit(0))
    // ALL deltas arrive through ONE multi-path parquet scan, with _seq
    // decoded from each row's file path against the marker map — the
    // r10 foldLeft(unionByName) built an O(#deltas)-wide union plan,
    // so a long-running stream appending one delta per micro-batch
    // paid ever-growing analysis time until compaction. The dir names
    // are token-suffixed (unique per delta), so the parent-directory
    // component keys the map exactly. Tombstone deltas (dirName label
    // `t=`, published by [[deleteKeysMor]] into the SAME seq space —
    // delete/upsert ordering must be total or delete-then-reinsert
    // would be ambiguous) arrive through their own key-only scan: the
    // plan stays three relations wide at any delta count.
    def multiScan(ds: Seq[(Int, String)]): Option[DataFrame] =
      if (ds.isEmpty) None
      else {
        val seqByDir = map(ds.flatMap { case (s, d) =>
          Seq(lit(new Path(resolveData(root, d)).getName), lit(s))
        }: _*)
        Some(spark.read.parquet(ds.map { case (_, d) => resolveData(root, d) }: _*)
          .withColumn("_seq",
            element_at(seqByDir,
              regexp_extract(input_file_name(), "([^/]+)/[^/]+$", 1))))
      }
    val (tombs, datas) = deltas.partition(_._2.startsWith("t="))
    val withData = multiScan(datas).map(base.unionByName(_)).getOrElse(base)
      .withColumn("_del", lit(false))
    val all = multiScan(tombs) match {
      case None => withData
      // the tombstone scan carries only (key, _seq); unionByName pads
      // the data columns with null — they never survive the filter
      case Some(td) =>
        withData.unionByName(td.withColumn("_del", lit(true)),
          allowMissingColumns = true)
    }
    all
      .withColumn("_rn", expr(
        s"row_number() OVER (PARTITION BY $key ORDER BY _seq DESC)"))
      .where("_rn = 1 AND NOT _del")
      .drop("_seq", "_rn", "_del")
  }

  /** Merge-on-read DELETE (the deletion-vector/position-delete idea at
    * key granularity): publish the doomed KEYS as a tombstone delta —
    * an O(delete)-sized append, no base rewrite — and let
    * [[readResolved]] drop a key whose latest-seq row is a tombstone.
    * Tombstones share `_deltas`' seq space with data deltas, so
    * delete-then-reinsert resolves by the same total order as
    * everything else (a later [[appendDelta]] of the key wins over the
    * tombstone; LakeSpec pins the round trip). [[compact]] folds
    * tombstones away with the rest: the new base simply lacks the
    * deleted keys, and the consumed markers retire.
    */
  def deleteKeysMor(spark: SparkSession, keys: DataFrame, root: String,
      key: String): Int = {
    require(keys.columns.toSeq == Seq(key),
      s"tombstone batch must be exactly the key column '$key', got ${keys.columns.mkString(",")}")
    val batch = keys.distinct()
    var s = deltaSeqs(spark, root).lastOption.map(_._1 + 1).getOrElse(1)
    val dirName = writeData(batch, root, "t", s)
    var attempts = 0
    while (!createMarker(spark, root, "_deltas", s, dirName)) {
      attempts += 1
      require(attempts < 100, s"tombstone contention on $root: gave up after $attempts slots")
      s = deltaSeqs(spark, root).last._1 + 1
    }
    s
  }

  /** Fold the deltas into a fresh base version; the resolved content
    * is unchanged (LakeSpec pins it). Only the delta markers this
    * compaction actually CONSUMED are retired — a delta published
    * concurrently after the listing keeps its marker and resolves
    * against the new base, never silently lost (its seq stays above
    * the folded ones, so latest-wins is unaffected).
    */
  def compact(spark: SparkSession, root: String, key: String): Int = {
    val consumed = deltaSeqs(spark, root)
    val resolved = readResolvedAt(spark, root, key, consumed)
      // materialize BEFORE the commit overwrites the delta inputs the
      // lazy plan would otherwise re-read
      .fenced
    val v = commitVersion(spark, resolved, root)
    val dm = new Path(root, "_deltas")
    val fs = fsFor(spark, dm)
    consumed.foreach { case (s, d) =>
      fs.delete(new Path(dm, s.toString), false)
      dropData(spark, root, d)
    }
    v
  }

  /** OPTIMIZE ZORDER: rewrite the table tip clustered by the Morton
    * interleave of (`x`, `y`) — same rows, new file layout — committed
    * as a NEW version, so history and time travel stay intact and a
    * concurrent writer loses or wins the slot under the ordinary OCC
    * protocol (a lost race drops the rewritten files and re-clusters
    * the new tip). The rewrite itself is [[Layout.zOrderWrite]]: one
    * bounded min/max stats row, one range shuffle of the table on the
    * z-key, sorted within files — the cost class of a compaction, paid
    * once so that every later selective scan on EITHER dimension
    * prunes most files via parquet min/max statistics (the
    * s11_zorder_scan proof, now applying to lake versions).
    */
  /** ANALYZE TABLE for a lake snapshot: one long-format stats row per
    * column — row/null/exact-NDV counts plus min/max (numeric columns
    * as round-6 doubles, strings verbatim) — the statistics layer a
    * catalog/CBO and data-skipping planner consume (Delta/Iceberg
    * collect the same shape per commit). ONE scan computes every
    * column's aggregates in a single 1-row pass (the per-column rows
    * are projections of that row, not rescans); exact NDV keeps the
    * gate deterministic — the HLL sketch (ta_vocab_hll machinery) is
    * the drop-in when a column's distinct count is itself corpus-sized.
    */
  def analyze(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val df = readVersion(spark, root, version)
    val aggs = df.schema.fields.flatMap { f =>
      val c = s"`${f.name}`"
      val base = Seq(
        expr(s"cast(count($c) AS bigint) AS `${f.name}__cnt`"),
        expr(s"cast(count(DISTINCT $c) AS bigint) AS `${f.name}__ndv`"))
      base ++ (f.dataType match {
        case _: NumericType => Seq(
          expr(s"round(cast(min($c) AS double), 6) AS `${f.name}__minn`"),
          expr(s"round(cast(max($c) AS double), 6) AS `${f.name}__maxn`"))
        case StringType => Seq(
          expr(s"min($c) AS `${f.name}__mins`"),
          expr(s"max($c) AS `${f.name}__maxs`"))
        case _ => Seq.empty
      })
    }
    val row = df.groupBy()
      .agg(expr("cast(count(*) AS bigint) AS __total"), aggs.toSeq: _*)
      .fenced // 1 row; every per-column projection reuses it
    df.schema.fields.map { f =>
      val (minN, maxN, minS, maxS) = f.dataType match {
        case _: NumericType =>
          (s"`${f.name}__minn`", s"`${f.name}__maxn`",
            "cast(null AS string)", "cast(null AS string)")
        case StringType =>
          ("cast(null AS double)", "cast(null AS double)",
            s"`${f.name}__mins`", s"`${f.name}__maxs`")
        case _ =>
          ("cast(null AS double)", "cast(null AS double)",
            "cast(null AS string)", "cast(null AS string)")
      }
      row.selectExpr(
        s"'${f.name}' AS col_name",
        "__total AS n_rows",
        s"__total - `${f.name}__cnt` AS n_nulls",
        s"`${f.name}__ndv` AS ndv",
        s"$minN AS min_num", s"$maxN AS max_num",
        s"$minS AS min_str", s"$maxS AS max_str")
    }.reduce(_ unionByName _)
  }

  def optimizeZOrder(spark: SparkSession, root: String, x: String, y: String,
      nFiles: Int = 16): Int = {
    var attempts = 0
    while (true) {
      val base = versions(spark, root).lastOption
        .getOrElse(throw new IllegalArgumentException(s"no committed versions under $root"))
      val cur = readVersion(spark, root, Some(base))
      val n = base + 1
      val tok = java.util.UUID.randomUUID().toString.take(8)
      val dirName = s"v=$n-$tok"
      Layout.zOrderWrite(cur, s"$root/$dirName", nFiles, col(x), col(y))
      if (createMarker(spark, root, "_versions", n, dirName)) return n
      dropData(spark, root, dirName)
      attempts += 1
      require(attempts < 20, s"optimize contention on $root: lost $attempts races")
    }
    -1 // unreachable
  }

  // --------------------- constraint-gated commit (write-audit-publish)

  /** Audit `df` against named SQL constraints and commit it as the
    * next version ONLY if every row passes — the Delta CHECK-constraint
    * / Iceberg WAP gate: bad data never becomes a readable version,
    * and the audit itself is what the caller gets back. ONE scan
    * regardless of constraint count (per-constraint violation counts
    * and a min-key sample fold in a single aggregate row, then unpivot
    * to one audit row per constraint); the commit, when it happens,
    * goes through the normal marker protocol. Returns the audit frame
    * — (constraint, n_violations, min_bad_key, committed) — where
    * `committed` reflects whether the version landed.
    */
  def commitChecked(spark: SparkSession, df: DataFrame, root: String,
      keyCol: String, constraints: Seq[(String, String)]): DataFrame = {
    require(constraints.nonEmpty, "commitChecked needs at least one constraint")
    val aggs = constraints.zipWithIndex.flatMap { case ((_, pred), i) =>
      Seq(
        expr(s"cast(count_if(NOT ($pred)) AS bigint) AS v$i"),
        expr(s"min(CASE WHEN NOT ($pred) THEN `$keyCol` END) AS k$i"))
    }
    val row = df.groupBy().agg(aggs.head, aggs.tail: _*)
      .fenced // 1 row; every audit projection + the gate reuse it
    val totalBad = row.selectExpr(
      constraints.indices.map(i => s"v$i").mkString("", " + ", " AS t"))
      .collect().head.getLong(0)
    if (totalBad == 0L) commitVersion(spark, df, root)
    val audit = constraints.zipWithIndex.map { case ((name, _), i) =>
      row.selectExpr(s"'$name' AS constraint_name", s"v$i AS n_violations",
        s"cast(k$i AS bigint) AS min_bad_key",
        s"${totalBad == 0L} AS committed")
    }.reduce(_ unionByName _)
    audit
  }

  // ----------------- per-file Bloom index (point-lookup data skipping)

  /** Build a per-file Bloom sidecar for BIGINT key column `colName`
    * over the current version: each data file folds to ONE row
    * (file, bits) where `bits` is the sorted set-bit positions of a
    * d=4, m-bit Bloom filter over the file's DISTINCT key values —
    * the Parquet/Delta bloom-filter data-skipping layer, as an
    * explicit sidecar. Distinct-first matters: saturation then scales
    * with a file's key cardinality, not its row count (size m at ~10+
    * bits per expected distinct key per file; the 2^16 default holds
    * ndv/file ≲ 6k at < 1 % false-positive rate). Hash rows are the
    * TextHash coefficient family, inlined identically into the build
    * and the probe so they cannot diverge. Scale shape: one scan +
    * one (file, key)-keyed distinct exchange; the sidecar is
    * files-sized, not rows-sized.
    */
  def buildBloomIndex(spark: SparkSession, root: String, colName: String,
      m: Int = 1 << 16): DataFrame = {
    val p = graft.plans.TextHash.P
    val pos = (0 until 4).map(j =>
      s"((${graft.plans.TextHash.A(j)}L * pmod(`$colName`, ${p}L) + ${graft.plans.TextHash.B(j)}L) % ${p}L) % $m")
    val idx = readVersion(spark, root)
      .select(col("_metadata.file_path").as("file"), col(colName))
      .distinct()
      .selectExpr("file", s"explode(array(${pos.mkString(", ")})) AS pb")
      .groupBy("file")
      .agg(expr("sort_array(collect_set(pb)) AS bits"))
    idx.write.mode(SaveMode.Overwrite).parquet(s"$root/_bloom_$colName")
    idx
  }

  /** Point lookup through the Bloom sidecar: probe the 4 bit
    * positions of `value`, scan ONLY the files whose filter may
    * contain it (at 100 TB: one or two files instead of every file a
    * min/max-sorted-elsewhere layout cannot prune), and apply the
    * exact predicate — Bloom false positives add scanned files, never
    * wrong rows, and no false negatives exist for the indexed
    * snapshot. The sidecar read + file selection is file-count-sized
    * driver work, the same class as any planner's file listing. Files
    * are taken from the sidecar itself, so the lookup targets the
    * snapshot the index was built on even if the table advanced.
    */
  /** The files whose Bloom filter may contain `value` — the pruned
    * scan set [[bloomLookup]] reads (exposed so callers and specs can
    * audit the skip rate).
    */
  def bloomCandidates(spark: SparkSession, root: String, colName: String,
      value: Long, m: Int = 1 << 16): Seq[String] = {
    val p = graft.plans.TextHash.P
    val probes = (0 until 4).map { j =>
      ((graft.plans.TextHash.A(j) * java.lang.Math.floorMod(value, p)
        + graft.plans.TextHash.B(j)) % p) % m
    }
    spark.read.parquet(s"$root/_bloom_$colName")
      .where(probes.map(pb => s"array_contains(bits, ${pb}L)").mkString(" AND "))
      .select("file").collect().map(_.getString(0)).sorted.toIndexedSeq
  }

  def bloomLookup(spark: SparkSession, root: String, colName: String,
      value: Long, m: Int = 1 << 16): DataFrame = {
    val hit = bloomCandidates(spark, root, colName, value, m)
    val base = readVersion(spark, root)
    if (hit.isEmpty) base.where(s"`$colName` = ${value}L").limit(0)
    else spark.read.schema(base.schema).parquet(hit: _*)
      .where(s"`$colName` = ${value}L")
  }

  /** Vacuum: physically drop history beyond the `keep` most recent
    * versions — their markers AND data directories — plus any orphan
    * data directory no marker references (the debris of crashed or
    * race-losing commits). Time travel to a vacuumed version fails
    * like an uncommitted one; the retained tail is untouched. Returns
    * the removed directory names. The Delta/Iceberg retention
    * discipline: storage is reclaimed by deleting whole version
    * directories, never by touching live data files.
    *
    * `orphanRetentionMs` guards the in-flight-commit race: a
    * directory with NO marker is indistinguishable from a commit that
    * has written its data but not yet published, so unreferenced
    * directories are deleted only when their modification time is
    * older than the retention window (Delta's
    * `deletedFileRetentionDuration` discipline — the default assumes
    * no commit takes an hour). Expired MARKER-referenced directories
    * have no such ambiguity (their marker proves the commit
    * completed) and delete immediately, marker first.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      orphanRetentionMs: Long = 3600L * 1000): Seq[String] = {
    require(keep >= 1, "must retain at least the current version")
    val ms = markers(spark, root, "_versions")
    val (drop, retain) = ms.splitAt(math.max(0, ms.length - keep))
    val rootP = new Path(root)
    val fs = fsFor(spark, rootP)
    val retainedDirs = (retain.map(_._2) ++ deltaSeqs(spark, root).map(_._2)).toSet
    val droppedDirs = drop.map(_._2).toSet
    // expired markers first: a reader landing mid-vacuum sees either a
    // complete version or none, never a marker pointing at deleted data
    drop.foreach { case (n, _) =>
      fs.delete(new Path(new Path(root, "_versions"), n.toString), false)
    }
    val now = System.currentTimeMillis()
    val removed = fs.listStatus(rootP).toSeq
      .filter { st =>
        val name = st.getPath.getName
        st.isDirectory &&
          (name.startsWith("v=") || name.startsWith("d=")) &&
          !retainedDirs.contains(name) &&
          (droppedDirs.contains(name) ||
            now - st.getModificationTime > orphanRetentionMs)
      }
      .map(_.getPath)
    removed.foreach(p => fs.delete(p, true))
    removed.map(_.getName)
  }

  /** Shallow (zero-copy) clone: create a NEW table at `dstRoot` whose
    * single committed version points at the SOURCE's current (or
    * requested) data directory — only one marker file is written, no
    * data moves (the Delta CLONE / Iceberg snapshot-ref shape: a 100 TB
    * table clones in milliseconds for dev/test forks). The clone then
    * evolves independently — its later commits write its own data dirs
    * under its own root; the marker stores an ABSOLUTE source path for
    * the borrowed version. Caveat mirrored from the real systems:
    * vacuum on the source can break clones that still reference its
    * data (retention policy must account for clones).
    */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
      v: Option[Int] = None): Int = {
    val ms = markers(spark, srcRoot, "_versions")
    require(ms.nonEmpty, s"no committed versions under $srcRoot")
    val pick = v.getOrElse(ms.last._1)
    val dir = ms.collectFirst { case (`pick`, d) => d }
    require(dir.isDefined, s"version $pick not committed under $srcRoot")
    // absolute reference into the source tree; readVersion resolves
    // marker bodies against the table root, so qualify explicitly
    val srcData = new Path(srcRoot, dir.get)
    val abs = fsFor(spark, srcData).makeQualified(srcData).toString
    require(createMarker(spark, dstRoot, "_versions", 0, abs),
      s"$dstRoot already has a committed version 0")
    0
  }

  /** RESTORE (the Delta `RESTORE TABLE … VERSION AS OF` shape): make
    * the table tip equal an EARLIER version's content by committing a
    * NEW version whose marker points at the old version's existing
    * data directory — metadata-only, no data rewrite (a 100 TB
    * rollback is one marker PUT through the same OCC coordinator as
    * any commit). History stays append-only: every intermediate
    * version remains time-travelable, and vacuum retention is
    * REFERENCE-based (retainedDirs is the set of dirs retained markers
    * point at), so the shared data directory survives exactly as long
    * as any referencing version does — even after the original
    * version's marker expires.
    */
  def restore(spark: SparkSession, root: String, v: Int): Int = {
    val ms = markers(spark, root, "_versions")
    require(ms.nonEmpty, s"no committed versions under $root")
    val dir = ms.collectFirst { case (`v`, d) => d }
    require(dir.isDefined,
      s"version $v not committed (have ${ms.map(_._1).mkString(",")})")
    var n = ms.last._1 + 1
    var attempts = 0
    while (!createMarker(spark, root, "_versions", n, dir.get)) {
      attempts += 1
      require(attempts < 100, s"restore contention on $root: gave up after $attempts slots")
      n = versions(spark, root).last + 1
    }
    n
  }

  /** Evolved snapshot read: version `v`'s rows presented under the
    * LATEST version's schema — columns added since `v` read as null
    * (the additive half of schema evolution; renames/drops need a
    * mapping table this layout deliberately omits). Implemented as a
    * union against the latest schema's empty frame, so Spark's own
    * by-name resolution does the padding.
    */
  def readVersionEvolved(spark: SparkSession, root: String, v: Int): DataFrame = {
    val target = readVersion(spark, root).limit(0)
    target.unionByName(readVersion(spark, root, Some(v)), allowMissingColumns = true)
  }

  /** The update fixture both gate queries share: every customer with
    * custkey ≡ 0 (mod 10) gets a 1000.00 balance credit and a MERGED
    * segment tag; 50 brand-new customers append beyond the current max
    * key (derived as a fixed offset so both engines compute the same
    * keys).
    */
  private[graft] def updatesFixture(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
    val changed = base.where("c_custkey % 10 = 0")
      .selectExpr("c_custkey", "c_name", "c_nationkey",
        "c_acctbal + 1000.0 AS c_acctbal", "'MERGED' AS c_mktsegment")
    val fresh = base.groupBy().agg(expr("max(c_custkey) AS mx"))
      .selectExpr("explode(sequence(mx + 1, mx + 50)) AS c_custkey")
      .selectExpr("c_custkey", "concat('Customer#new', cast(c_custkey AS string)) AS c_name",
        "cast(c_custkey % 25 AS int) AS c_nationkey", "0.0 AS c_acctbal",
        "'FRESH' AS c_mktsegment")
    changed.unionByName(fresh)
  }

  // whole-row MERGE semantics: when an update row matches, ALL its
  // columns win (even nulls) — mirrored per column with the
  // update-presence CASE, not coalesce
  private[graft] val mergedOracle = """
        base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer),
        changed AS (
          SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
                 'MERGED' AS c_mktsegment
          FROM base WHERE c_custkey % 10 = 0),
        fresh AS (
          SELECT mx + i AS c_custkey, 'Customer#new' || (mx + i)::VARCHAR AS c_name,
                 ((mx + i) % 25)::INT AS c_nationkey, 0.0 AS c_acctbal,
                 'FRESH' AS c_mktsegment
          FROM (SELECT max(c_custkey) AS mx FROM base), unnest(generate_series(1, 50)) AS t(i)),
        updates AS (SELECT * FROM changed UNION ALL SELECT * FROM fresh),
        merged AS (
          SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
                 CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE b.c_name END AS c_name,
                 CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE b.c_nationkey END AS c_nationkey,
                 CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE b.c_acctbal END AS c_acctbal,
                 CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
          FROM base b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey)"""


  /** (p, s, zb): min-max normalize both columns to 16 bits against the
    * broadcast stats row, fold the closed-form Morton interleave, and
    * take the top 4 Z-bits as the bucket id (a 4×4 quadrant grid).
    */
  private def zz(li: DataFrame, stats: DataFrame): DataFrame =
    li.crossJoin(broadcast(stats))
      .selectExpr("p", "s",
        "(p - minp) * 65535L div greatest(maxp - minp, 1L) AS p16",
        "(s - mins) * 65535L div greatest(maxs - mins, 1L) AS s16")
      .selectExpr("p", "s", "cast(shiftleft(shiftright(p16, 0) & 1, 0) | shiftleft(shiftright(s16, 0) & 1, 1) | shiftleft(shiftright(p16, 1) & 1, 2) | shiftleft(shiftright(s16, 1) & 1, 3) | shiftleft(shiftright(p16, 2) & 1, 4) | shiftleft(shiftright(s16, 2) & 1, 5) | shiftleft(shiftright(p16, 3) & 1, 6) | shiftleft(shiftright(s16, 3) & 1, 7) | shiftleft(shiftright(p16, 4) & 1, 8) | shiftleft(shiftright(s16, 4) & 1, 9) | shiftleft(shiftright(p16, 5) & 1, 10) | shiftleft(shiftright(s16, 5) & 1, 11) | shiftleft(shiftright(p16, 6) & 1, 12) | shiftleft(shiftright(s16, 6) & 1, 13) | shiftleft(shiftright(p16, 7) & 1, 14) | shiftleft(shiftright(s16, 7) & 1, 15) | shiftleft(shiftright(p16, 8) & 1, 16) | shiftleft(shiftright(s16, 8) & 1, 17) | shiftleft(shiftright(p16, 9) & 1, 18) | shiftleft(shiftright(s16, 9) & 1, 19) | shiftleft(shiftright(p16, 10) & 1, 20) | shiftleft(shiftright(s16, 10) & 1, 21) | shiftleft(shiftright(p16, 11) & 1, 22) | shiftleft(shiftright(s16, 11) & 1, 23) | shiftleft(shiftright(p16, 12) & 1, 24) | shiftleft(shiftright(s16, 12) & 1, 25) | shiftleft(shiftright(p16, 13) & 1, 26) | shiftleft(shiftright(s16, 13) & 1, 27) | shiftleft(shiftright(p16, 14) & 1, 28) | shiftleft(shiftright(s16, 14) & 1, 29) | shiftleft(shiftright(p16, 15) & 1, 30) | shiftleft(shiftright(s16, 15) & 1, 31) AS bigint) AS z")
      .selectExpr("p", "s", "shiftright(z, 28) AS zb")

  def queries: Seq[QueryDef] = Seq(
    // --------------------------- MERGE upsert (copy-on-write commit)
    // Base snapshot = the customer table committed as v0; the update
    // set modifies every 10th customer and inserts 50 new ones; upsert
    // commits v1. The emitted rows are the FULL merged table read back
    // from the store (balances in exact integer micros), so one row
    // mis-merged, lost, or duplicated breaks the hash.
    QueryDef(
      "s13_upsert",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        readVersion(spark, root)
          .selectExpr("c_custkey", "c_name", "cast(c_nationkey AS int) AS c_nationkey",
            "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_micros", "c_mktsegment")
      },
      Some(s"""
        WITH $mergedOracle
        SELECT c_custkey, c_name, c_nationkey::INT AS c_nationkey,
               CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal_micros,
               c_mktsegment
        FROM merged""")),

    // ----------------------------- time travel (snapshot isolation)
    // The same two commits, then BOTH versions read back post-upsert
    // and reduced to one accounting row each: v0 must still be the
    // pristine base (the upsert cannot have touched it) and v1 the
    // merged table. The version column keys the rows, so the gate
    // hash-checks snapshot isolation itself.
    QueryDef(
      "s14_time_travel",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        Seq(0, 1).map { v =>
          readVersion(spark, root, Some(v))
            .groupBy()
            .agg(
              expr("cast(count(*) AS bigint) AS n_rows"),
              expr("cast(sum(cast(round(c_acctbal * 1000000, 0) AS bigint)) AS bigint) AS bal_micros_total"),
              expr("cast(sum(CASE WHEN c_mktsegment = 'MERGED' THEN 1 ELSE 0 END) AS bigint) AS n_merged"),
              expr("cast(sum(CASE WHEN c_mktsegment = 'FRESH' THEN 1 ELSE 0 END) AS bigint) AS n_fresh"))
            .selectExpr(s"${v}L AS version", "n_rows", "bal_micros_total", "n_merged", "n_fresh")
        }.reduce(_ unionByName _)
      },
      Some(s"""
        WITH $mergedOracle,
        v0 AS (
          SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
                 sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal_micros_total,
                 0::BIGINT AS n_merged, 0::BIGINT AS n_fresh
          FROM base),
        v1 AS (
          SELECT 1::BIGINT, count(*)::BIGINT,
                 sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT,
                 sum(CASE WHEN c_mktsegment = 'MERGED' THEN 1 ELSE 0 END)::BIGINT,
                 sum(CASE WHEN c_mktsegment = 'FRESH' THEN 1 ELSE 0 END)::BIGINT
          FROM merged)
        SELECT * FROM v0 UNION ALL SELECT * FROM v1""")),

    // --------------------- merge-on-read resolution (delta appends)
    // The write-optimized upsert path: base commit + TWO appended
    // delta files (delta 1 = the shared update fixture incl. inserts;
    // delta 2 = a deeper credit for every 20th customer), resolved at
    // read time by latest-seq-wins per key. The emitted rows are the
    // fully resolved table, so the gate checks the resolution rule
    // itself — a key resolved to the wrong delta generation breaks
    // the hash.
    QueryDef(
      "s15_mor_resolve",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        appendDelta(spark, updatesFixture(spark, dir), root, "c_custkey")
        appendDelta(spark,
          Tables.customer(spark, dir).where("c_custkey % 20 = 0")
            .selectExpr("c_custkey", "c_name", "c_nationkey",
              "c_acctbal + 3000.0 AS c_acctbal", "'MERGED2' AS c_mktsegment"),
          root, "c_custkey")
        readResolved(spark, root, "c_custkey")
          .selectExpr("c_custkey", "c_name", "cast(c_nationkey AS int) AS c_nationkey",
            "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_micros", "c_mktsegment")
      },
      Some(s"""
        WITH $mergedOracle,
        resolved AS (
          SELECT m.c_custkey, m.c_name, m.c_nationkey,
                 CASE WHEN m.c_custkey % 20 = 0 AND b.c_custkey IS NOT NULL
                      THEN b.c_acctbal + 3000.0
                      ELSE m.c_acctbal END AS c_acctbal,
                 CASE WHEN m.c_custkey % 20 = 0 AND b.c_custkey IS NOT NULL
                      THEN 'MERGED2'
                      ELSE m.c_mktsegment END AS c_mktsegment
          FROM merged m LEFT JOIN base b ON m.c_custkey = b.c_custkey)
        SELECT c_custkey, c_name, c_nationkey::INT AS c_nationkey,
               CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal_micros,
               c_mktsegment
        FROM resolved""")),

    // --------------------------- change feed (CDC between versions)
    // Three commits — v0 base, v1 the MERGE upsert, v2 a COW delete of
    // every negative balance — and the feed between each consecutive
    // pair: full-outer join on the key classifies every row as
    // insert / update / delete with before/after balances. COW
    // versions make CDC a pure derived view (no log to maintain); the
    // versioned rows key the gate, so a missed or misclassified
    // change breaks the hash.
    QueryDef(
      "s16_changefeed",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        deleteWhere(spark, root, "c_acctbal < 0")
        def feed(from: Int, to: Int) = {
          val a = readVersion(spark, root, Some(from))
            .selectExpr("c_custkey", "c_name AS name_a", "c_nationkey AS nk_a",
              "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_a",
              "c_mktsegment AS seg_a")
          val b = readVersion(spark, root, Some(to))
            .selectExpr("c_custkey", "c_name AS name_b", "c_nationkey AS nk_b",
              "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_b",
              "c_mktsegment AS seg_b")
          a.join(b, Seq("c_custkey"), "full_outer")
            .selectExpr(s"${from}L AS v_from", s"${to}L AS v_to", "c_custkey",
              """CASE WHEN seg_a IS NULL THEN 'insert'
                      WHEN seg_b IS NULL THEN 'delete'
                      ELSE 'update' END AS op""",
              "bal_a AS bal_before_micros", "bal_b AS bal_after_micros")
            .where("""seg_a IS NULL OR seg_b IS NULL
                      OR name_a != name_b OR nk_a != nk_b
                      OR bal_a != bal_b OR seg_a != seg_b""")
        }
        feed(0, 1).unionByName(feed(1, 2))
      },
      Some(s"""
        WITH $mergedOracle,
        b0 AS (SELECT c_custkey, c_name, c_nationkey,
                      CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal, c_mktsegment
               FROM base),
        b1 AS (SELECT c_custkey, c_name, c_nationkey,
                      CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal, c_mktsegment
               FROM merged),
        b2 AS (SELECT * FROM b1 WHERE NOT (bal < 0)),
        f01 AS (
          SELECT 0::BIGINT AS v_from, 1::BIGINT AS v_to,
                 coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
                 CASE WHEN a.c_custkey IS NULL THEN 'insert'
                      WHEN b.c_custkey IS NULL THEN 'delete'
                      ELSE 'update' END AS op,
                 a.bal AS bal_before_micros, b.bal AS bal_after_micros
          FROM b0 a FULL OUTER JOIN b1 b ON a.c_custkey = b.c_custkey
          WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
             OR a.c_name != b.c_name OR a.c_nationkey != b.c_nationkey
             OR a.bal != b.bal OR a.c_mktsegment != b.c_mktsegment),
        f12 AS (
          SELECT 1::BIGINT, 2::BIGINT,
                 coalesce(a.c_custkey, b.c_custkey),
                 CASE WHEN a.c_custkey IS NULL THEN 'insert'
                      WHEN b.c_custkey IS NULL THEN 'delete'
                      ELSE 'update' END,
                 a.bal, b.bal
          FROM b1 a FULL OUTER JOIN b2 b ON a.c_custkey = b.c_custkey
          WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
             OR a.c_name != b.c_name OR a.c_nationkey != b.c_nationkey
             OR a.bal != b.bal OR a.c_mktsegment != b.c_mktsegment)
        SELECT * FROM f01 UNION ALL SELECT * FROM f12""")),

    // -------------------- additive schema evolution (evolved reads)
    // v0 commits the original 5-column customer table; v1 adds a
    // derived `c_tier` column (positive balance → 'standard', else
    // 'debtor'). Reading v0 THROUGH the latest schema pads the new
    // column with null, and the emitted per-(version, tier) accounting
    // proves old snapshots stay readable after the schema grows — the
    // contract that lets a 100 TB table add columns without rewriting
    // history. Null tier surfaces as '(pre-schema)' so the gate hashes
    // the padding behavior itself.
    QueryDef(
      "s17_schema_evolution",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        commitVersion(spark,
          readVersion(spark, root).selectExpr("*",
            "CASE WHEN c_acctbal >= 0 THEN 'standard' ELSE 'debtor' END AS c_tier"),
          root)
        Seq(0, 1).map { v =>
          readVersionEvolved(spark, root, v)
            .selectExpr(s"${v}L AS version",
              "coalesce(c_tier, '(pre-schema)') AS tier",
              "c_custkey")
            .groupBy("version", "tier")
            .agg(expr("cast(count(*) AS bigint) AS n_rows"),
              expr("cast(sum(c_custkey) AS bigint) AS key_sum"))
        }.reduce(_ unionByName _)
      },
      Some("""
        WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
        v1 AS (SELECT c_custkey,
                      CASE WHEN c_acctbal >= 0 THEN 'standard' ELSE 'debtor' END AS tier
               FROM base)
        SELECT 0::BIGINT AS version, '(pre-schema)' AS tier,
               count(*)::BIGINT AS n_rows, sum(c_custkey)::BIGINT AS key_sum
        FROM base
        UNION ALL
        SELECT 1::BIGINT, tier, count(*)::BIGINT, sum(c_custkey)::BIGINT
        FROM v1 GROUP BY tier""")),

    // ------------------------------- vacuum (physical history drop)
    // v0 base, v1 MERGE upsert, v2 COW delete — then vacuum(keep=1)
    // drops v0/v1's markers and data. The emitted rows are the FULL
    // surviving snapshot read back AFTER the vacuum plus one
    // accounting row of what remains on disk (1 retained version, 0
    // stale data directories) — so the gate checks both that history
    // physically went away and that the retained tail is untouched.
    QueryDef(
      "s18_vacuum",
      (spark, dir) => {
        val work = graft.TmpDirs.create("graft_lake").toString
        val root = s"$work/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        deleteWhere(spark, root, "c_acctbal < 0")
        vacuum(spark, root, keep = 1)
        val fs = fsFor(spark, new Path(root))
        val dataDirs = fs.listStatus(new Path(root)).toSeq
          .count(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        val stale = dataDirs - versions(spark, root).length
        readVersion(spark, root)
          .selectExpr("'row' AS kind", "c_custkey", "c_name",
            "cast(c_nationkey AS int) AS c_nationkey",
            "cast(round(c_acctbal * 1000000, 0) AS bigint) AS bal_micros", "c_mktsegment")
          .unionByName(
            spark.range(1).selectExpr("'meta' AS kind",
              s"${versions(spark, root).length}L AS c_custkey",
              "'retained_versions' AS c_name", "cast(-1 AS int) AS c_nationkey",
              s"${stale}L AS bal_micros", "'stale_data_dirs' AS c_mktsegment"))
      },
      Some(s"""
        WITH $mergedOracle,
        survivors AS (SELECT * FROM merged WHERE NOT (c_acctbal < 0))
        SELECT 'row' AS kind, c_custkey, c_name, c_nationkey::INT AS c_nationkey,
               CAST(round(c_acctbal * 1000000, 0) AS BIGINT) AS bal_micros,
               c_mktsegment
        FROM survivors
        UNION ALL
        SELECT 'meta', 1, 'retained_versions', -1, 0, 'stale_data_dirs'""")),

    // ------------------- incremental view maintenance (delta algebra)
    // A per-segment accounting view (count + balance sum) maintained
    // INCREMENTALLY under a MOR delta append: the maintenance job
    // reads ONLY the delta — joined against the base solely on the
    // delta's own keys (broadcast-sized) to fetch displaced old rows —
    // and merges per-segment diffs into the stored view: updates
    // subtract their old (segment, balance) contribution and add the
    // new one, inserts just add. O(|delta|) work per refresh instead
    // of an O(table) rescan — the view-maintenance shape that keeps a
    // 100 TB rollup fresh. The oracle recomputes the view from the
    // fully resolved table, so the gate hash-checks that the delta
    // algebra reproduces the ground truth exactly (integer micros).
    QueryDef(
      "s19_incremental_agg",
      (spark, dir) => {
        val work = graft.TmpDirs.create("graft_lake").toString
        val root = s"$work/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        val view0 = readVersion(spark, root)
          .groupBy("c_mktsegment")
          .agg(expr("cast(count(*) AS bigint) AS n_rows"),
            expr("cast(sum(cast(round(c_acctbal * 1000000, 0) AS bigint)) AS bigint) AS bal_micros"))
        val delta = updatesFixture(spark, dir)
        appendDelta(spark, delta, root, "c_custkey")
        // displaced old rows: base join restricted to the delta's keys
        val olds = readVersion(spark, root, Some(0))
          .join(broadcast(delta.select("c_custkey")), Seq("c_custkey"))
        val diffs = delta
          .selectExpr("c_mktsegment", "1L AS dn",
            "cast(round(c_acctbal * 1000000, 0) AS bigint) AS db")
          .unionByName(olds.selectExpr("c_mktsegment", "-1L AS dn",
            "-cast(round(c_acctbal * 1000000, 0) AS bigint) AS db"))
          .groupBy("c_mktsegment")
          .agg(expr("cast(sum(dn) AS bigint) AS dn"),
            expr("cast(sum(db) AS bigint) AS db"))
        view0.join(diffs, Seq("c_mktsegment"), "full_outer")
          .selectExpr("c_mktsegment",
            "coalesce(n_rows, 0L) + coalesce(dn, 0L) AS n_rows",
            "coalesce(bal_micros, 0L) + coalesce(db, 0L) AS bal_micros")
          .where("n_rows > 0")
      },
      Some(s"""
        WITH $mergedOracle
        SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
               sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal_micros
        FROM merged
        GROUP BY c_mktsegment""")),

    // ----------------------- shallow clone (zero-copy table forking)
    // The dev/test-fork primitive: clone the committed customer table
    // into a second root WITHOUT copying data (one marker file), then
    // MERGE-upsert the CLONE. The emitted accounting proves the three
    // clone laws at once — the clone read v0 through the borrowed
    // reference (clone pre-state = source), the clone's upsert
    // evolved it independently (clone post-state = merged), and the
    // SOURCE stayed pristine (source post-state = base). A data copy
    // would also pass this; LakeSpec pins the zero-copy part (no new
    // data directory exists under the clone root until its own
    // commit).
    QueryDef(
      "s20_clone",
      (spark, dir) => {
        val work = graft.TmpDirs.create("graft_lake").toString
        val src = s"$work/customer"
        val dst = s"$work/customer_fork"
        commitVersion(spark, Tables.customer(spark, dir), src)
        cloneTable(spark, src, dst)
        upsert(spark, updatesFixture(spark, dir), dst, "c_custkey")
        def acct(name: String, df: DataFrame) = df.groupBy()
          .agg(
            expr("cast(count(*) AS bigint) AS n_rows"),
            expr("cast(sum(cast(round(c_acctbal * 1000000, 0) AS bigint)) AS bigint) AS bal_micros_total"),
            expr("cast(sum(CASE WHEN c_mktsegment IN ('MERGED', 'FRESH') THEN 1 ELSE 0 END) AS bigint) AS n_touched"))
          .selectExpr(s"'$name' AS table_state", "n_rows", "bal_micros_total", "n_touched")
        acct("clone_v0", readVersion(spark, dst, Some(0)))
          .unionByName(acct("clone_head", readVersion(spark, dst)))
          .unionByName(acct("source_head", readVersion(spark, src)))
      },
      Some(s"""
        WITH $mergedOracle,
        b AS (
          SELECT count(*)::BIGINT AS n_rows,
                 sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal,
                 sum(CASE WHEN c_mktsegment IN ('MERGED', 'FRESH') THEN 1 ELSE 0 END)::BIGINT AS t
          FROM base),
        m AS (
          SELECT count(*)::BIGINT AS n_rows,
                 sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal,
                 sum(CASE WHEN c_mktsegment IN ('MERGED', 'FRESH') THEN 1 ELSE 0 END)::BIGINT AS t
          FROM merged)
        SELECT 'clone_v0' AS table_state, n_rows, bal AS bal_micros_total, t AS n_touched FROM b
        UNION ALL
        SELECT 'clone_head', n_rows, bal, t FROM m
        UNION ALL
        SELECT 'source_head', n_rows, bal, t FROM b""")),

    // ------------------------- snapshot diff (CDC between versions)
    // "What changed between version A and version B?" — the audit /
    // downstream-sync question time travel alone cannot answer without
    // re-deriving the writes. [[versionDiff]] classifies every key as
    // added / removed / changed by ONE key-partitioned full-outer join
    // of the two snapshots (null-safe whole-row comparison, so a
    // column going null counts as a change); unchanged keys — the
    // overwhelming majority at scale — never leave the join. Fixture:
    // v0 = customer, v1 = the shared upsert fixture, v2 = deleteWhere
    // every 37th key, then diff v0 → v2 so all three classes appear.
    QueryDef(
      "s21_version_diff",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        deleteWhere(spark, root, "c_custkey % 37 = 1")
        versionDiff(spark, root, "c_custkey", 0, 2)
          .selectExpr("change", "c_custkey",
            "coalesce(cast(round(old_c_acctbal * 1000000, 0) AS bigint), -1L) AS old_bal_micros",
            "coalesce(cast(round(new_c_acctbal * 1000000, 0) AS bigint), -1L) AS new_bal_micros",
            "coalesce(new_c_mktsegment, '(none)') AS new_segment")
      },
      Some(s"""
        WITH $mergedOracle,
        v2 AS (SELECT * FROM merged WHERE NOT (c_custkey % 37 = 1)),
        diff AS (
          SELECT CASE WHEN b.c_custkey IS NULL THEN 'added'
                      WHEN n.c_custkey IS NULL THEN 'removed'
                      ELSE 'changed' END AS change,
                 coalesce(b.c_custkey, n.c_custkey) AS c_custkey,
                 b.c_acctbal AS old_acct, n.c_acctbal AS new_acct,
                 n.c_mktsegment AS new_seg
          FROM base b FULL OUTER JOIN v2 n ON b.c_custkey = n.c_custkey
          WHERE b.c_custkey IS NULL OR n.c_custkey IS NULL
             OR b.c_name IS DISTINCT FROM n.c_name
             OR b.c_nationkey IS DISTINCT FROM n.c_nationkey
             OR b.c_acctbal IS DISTINCT FROM n.c_acctbal
             OR b.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
        SELECT change, c_custkey,
               coalesce(CAST(round(old_acct * 1000000, 0) AS BIGINT), -1) AS old_bal_micros,
               coalesce(CAST(round(new_acct * 1000000, 0) AS BIGINT), -1) AS new_bal_micros,
               coalesce(new_seg, '(none)') AS new_segment
        FROM diff""")),

    // ------------------------- Z-order layout clustering (OPTIMIZE)
    // The lakehouse maintenance primitive behind Delta/Iceberg
    // OPTIMIZE ZORDER BY: min-max NORMALIZE both filter columns to 16
    // bits (real implementations interleave normalized ranks, not raw
    // values — a narrow column would otherwise never reach the
    // interleaved high bits and only the wide dimension would
    // cluster), interleave the bits into one Morton key, and
    // range-bucket on its top 4 bits — a 4×4 quadrant grid, never an
    // ntile/global-rank sort. The audit output is each bucket's row
    // count and per-dimension bounds — the min/max statistics a scan
    // planner prunes files with; a predicate on EITHER column now
    // skips ~3/4 of the buckets, which is the whole point and is what
    // LakeSpec pins (average bucket span ≤ half the global span on
    // both dimensions). Scale shape: one 1-row min/max broadcast, one
    // scan folding the closed-form 16-term interleave, one
    // partial-aggregated groupBy on the bucket id.
    QueryDef(
      "s22_zorder",
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .selectExpr("cast(l_partkey AS bigint) AS p", "cast(l_suppkey AS bigint) AS s")
        val stats = li.groupBy().agg(
          expr("min(p) AS minp"), expr("max(p) AS maxp"),
          expr("min(s) AS mins"), expr("max(s) AS maxs"))
        zz(li, stats)
          .groupBy("zb")
          .agg(
            expr("cast(count(*) AS bigint) AS n_rows"),
            expr("min(p) AS min_p"), expr("max(p) AS max_p"),
            expr("min(s) AS min_s"), expr("max(s) AS max_s"))
          .selectExpr("zb", "n_rows", "min_p", "max_p", "min_s", "max_s",
            "max_p - min_p + 1 AS span_p", "max_s - min_s + 1 AS span_s")
      },
      Some("""
        WITH k AS (
          SELECT l_partkey::BIGINT AS p, l_suppkey::BIGINT AS s FROM lineitem),
        st AS (SELECT min(p) AS minp, max(p) AS maxp, min(s) AS mins, max(s) AS maxs FROM k),
        n AS (
          SELECT p, s,
                 (p - minp) * 65535 // greatest(maxp - minp, 1) AS p16,
                 (s - mins) * 65535 // greatest(maxs - mins, 1) AS s16
          FROM k, st),
        z AS (SELECT p, s, ((((p16 >> 0) & 1) << 0) | (((s16 >> 0) & 1) << 1) | (((p16 >> 1) & 1) << 2) | (((s16 >> 1) & 1) << 3) | (((p16 >> 2) & 1) << 4) | (((s16 >> 2) & 1) << 5) | (((p16 >> 3) & 1) << 6) | (((s16 >> 3) & 1) << 7) | (((p16 >> 4) & 1) << 8) | (((s16 >> 4) & 1) << 9) | (((p16 >> 5) & 1) << 10) | (((s16 >> 5) & 1) << 11) | (((p16 >> 6) & 1) << 12) | (((s16 >> 6) & 1) << 13) | (((p16 >> 7) & 1) << 14) | (((s16 >> 7) & 1) << 15) | (((p16 >> 8) & 1) << 16) | (((s16 >> 8) & 1) << 17) | (((p16 >> 9) & 1) << 18) | (((s16 >> 9) & 1) << 19) | (((p16 >> 10) & 1) << 20) | (((s16 >> 10) & 1) << 21) | (((p16 >> 11) & 1) << 22) | (((s16 >> 11) & 1) << 23) | (((p16 >> 12) & 1) << 24) | (((s16 >> 12) & 1) << 25) | (((p16 >> 13) & 1) << 26) | (((s16 >> 13) & 1) << 27) | (((p16 >> 14) & 1) << 28) | (((s16 >> 14) & 1) << 29) | (((p16 >> 15) & 1) << 30) | (((s16 >> 15) & 1) << 31))::BIGINT AS z FROM n),
        b AS (SELECT p, s, z >> 28 AS zb FROM z)
        SELECT zb, count(*)::BIGINT AS n_rows,
               min(p) AS min_p, max(p) AS max_p,
               min(s) AS min_s, max(s) AS max_s,
               (max(p) - min(p) + 1)::BIGINT AS span_p,
               (max(s) - min(s) + 1)::BIGINT AS span_s
        FROM b
        GROUP BY zb""")),

    // -------------------------------- ANALYZE TABLE (catalog statistics)
    // The statistics layer a catalog, cost-based optimizer, and
    // data-skipping planner consume: per-column row/null/exact-NDV
    // counts and min/max bounds over a committed snapshot, computed by
    // [[analyze]] in ONE scan (every per-column output row is a
    // projection of a single 1-row aggregate, never a rescan). The
    // oracle recomputes the identical statistics from the base table —
    // a green row proves the lake snapshot is byte-faithful AND the
    // stats pass is exact.
    QueryDef(
      "s23_analyze",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir).selectExpr(
          "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), root)
        analyze(spark, root)
      },
      Some("""
        WITH s AS (
          SELECT count(*)::BIGINT AS total,
            count(c_custkey)::BIGINT AS c1, count(DISTINCT c_custkey)::BIGINT AS d1,
            round(min(c_custkey)::DOUBLE, 6) AS mn1, round(max(c_custkey)::DOUBLE, 6) AS mx1,
            count(c_name)::BIGINT AS c2, count(DISTINCT c_name)::BIGINT AS d2,
            min(c_name) AS mn2, max(c_name) AS mx2,
            count(c_nationkey)::BIGINT AS c3, count(DISTINCT c_nationkey)::BIGINT AS d3,
            round(min(c_nationkey)::DOUBLE, 6) AS mn3, round(max(c_nationkey)::DOUBLE, 6) AS mx3,
            count(c_acctbal)::BIGINT AS c4, count(DISTINCT c_acctbal)::BIGINT AS d4,
            round(min(c_acctbal)::DOUBLE, 6) AS mn4, round(max(c_acctbal)::DOUBLE, 6) AS mx4,
            count(c_mktsegment)::BIGINT AS c5, count(DISTINCT c_mktsegment)::BIGINT AS d5,
            min(c_mktsegment) AS mn5, max(c_mktsegment) AS mx5
          FROM customer)
        SELECT 'c_custkey' AS col_name, total AS n_rows, (total - c1)::BIGINT AS n_nulls,
               d1 AS ndv, mn1 AS min_num, mx1 AS max_num,
               NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM s
        UNION ALL SELECT 'c_name', total, (total - c2)::BIGINT, d2,
                         NULL::DOUBLE, NULL::DOUBLE, mn2, mx2 FROM s
        UNION ALL SELECT 'c_nationkey', total, (total - c3)::BIGINT, d3,
                         mn3, mx3, NULL::VARCHAR, NULL::VARCHAR FROM s
        UNION ALL SELECT 'c_acctbal', total, (total - c4)::BIGINT, d4,
                         mn4, mx4, NULL::VARCHAR, NULL::VARCHAR FROM s
        UNION ALL SELECT 'c_mktsegment', total, (total - c5)::BIGINT, d5,
                         NULL::DOUBLE, NULL::DOUBLE, mn5, mx5 FROM s""")),

    // --------------------- Bloom-filter data skipping (point lookup)
    // The needle-in-100-TB path: the snapshot is committed in 8
    // key-hashed files (the ingest-bucketed layout), [[buildBloomIndex]]
    // writes the per-file Bloom sidecar over l_partkey, and the lookup
    // probes the sidecar to scan only the file(s) that may hold the
    // key — min/max zone maps cannot prune a point predicate on a
    // hash-scattered key, which is exactly the gap Parquet/Delta
    // bloom filters exist to close. The exact predicate after the
    // skip makes false positives invisible, so the oracle is the
    // plain base-table filter; LakeSpec pins the pruning itself
    // (files scanned < files committed).
    // ----------------- constraint-gated commit (WAP audit as data)
    // The release gate in action: version 0 commits the clean
    // BUILDING-segment slice, then a checked commit of the FULL
    // customer table trips the non-negative-balance constraint — no
    // version 1 appears (LakeSpec pins the history), and the audit
    // table the operator returns is the gate row: per constraint, how
    // many rows violated and the smallest offending key. The oracle
    // recomputes the same audit straight off the base table. At
    // 100 TB the audit is ONE corpus scan however many constraints
    // ride it; the sample key is a min, not a collect.
    QueryDef(
      "s25_commit_check",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        val cust = Tables.customer(spark, dir).selectExpr(
          "c_custkey", "c_name", "c_nationkey",
          "cast(cast(c_acctbal AS decimal(18,2)) * 100 AS bigint) AS bal_cents",
          "c_mktsegment")
        commitVersion(spark, cust.where("c_mktsegment = 'BUILDING' AND bal_cents >= 0"), root)
        commitChecked(spark, cust, root, "c_custkey", Seq(
          "non_negative_balance" -> "bal_cents >= 0",
          "name_present" -> "c_name IS NOT NULL",
          "valid_nation" -> "c_nationkey >= 0 AND c_nationkey < 25"))
      },
      Some("""
        WITH c AS (
          SELECT c_custkey, c_name, c_nationkey,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
                 c_mktsegment
          FROM customer),
        a AS (
          SELECT
            count_if(NOT (bal_cents >= 0))::BIGINT AS v0,
            min(CASE WHEN NOT (bal_cents >= 0) THEN c_custkey END)::BIGINT AS k0,
            count_if(NOT (c_name IS NOT NULL))::BIGINT AS v1,
            min(CASE WHEN NOT (c_name IS NOT NULL) THEN c_custkey END)::BIGINT AS k1,
            count_if(NOT (c_nationkey >= 0 AND c_nationkey < 25))::BIGINT AS v2,
            min(CASE WHEN NOT (c_nationkey >= 0 AND c_nationkey < 25) THEN c_custkey END)::BIGINT AS k2
          FROM c)
        SELECT 'non_negative_balance' AS constraint_name, v0 AS n_violations,
               k0 AS min_bad_key, (v0 + v1 + v2 = 0) AS committed FROM a
        UNION ALL
        SELECT 'name_present', v1, k1, (v0 + v1 + v2 = 0) FROM a
        UNION ALL
        SELECT 'valid_nation', v2, k2, (v0 + v1 + v2 = 0) FROM a""")),

    QueryDef(
      "s24_bloom_skip",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/lineitem"
        commitVersion(spark,
          Tables.lineitem(spark, dir)
            .selectExpr("l_orderkey", "l_partkey", "l_suppkey",
              "cast(l_quantity AS bigint) AS qty")
            .repartition(8, col("l_partkey")),
          root)
        buildBloomIndex(spark, root, "l_partkey")
        bloomLookup(spark, root, "l_partkey", 1L)
          .selectExpr("l_orderkey", "l_partkey", "l_suppkey", "qty")
      },
      Some("""
        SELECT l_orderkey, l_partkey, l_suppkey, l_quantity::BIGINT AS qty
        FROM lineitem WHERE l_partkey = 1""")),

    // ------------------- partition-spec evolution (layout migration)
    // A table's query pattern changes mid-life — the fix is a NEW
    // partition spec for data written from now on, not a full-history
    // rewrite. v0 commits a subset of orders unpartitioned (the
    // original spec); v1 commits the grown table hive-partitioned by
    // o_orderpriority (the evolved spec). Both versions are then read
    // BACK through the store and reduced per priority: the v1 rows
    // hash-check the partition round-trip itself (every group key is
    // a value that survived path encode/decode — including
    // '4-NOT SPECIFIED' with its space), and the v0 rows pin that
    // evolution never rewrites or re-reads history through the new
    // spec. LakeSpec pins the physical side: directory-level
    // PartitionFilters pruning on v1, flat files on v0.
    QueryDef(
      "s26_partition_evolution",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/orders"
        val ord = Tables.orders(spark, dir).selectExpr(
          "o_orderkey", "o_custkey",
          "cast(round(o_totalprice * 1000000, 0) AS bigint) AS price_micros",
          "o_orderpriority")
        commitVersion(spark, ord.where("o_orderkey % 3 != 0"), root)
        commitVersionPartitioned(spark, ord, root, Seq("o_orderpriority"))
        Seq(0, 1).map { v =>
          readVersion(spark, root, Some(v))
            .groupBy("o_orderpriority")
            .agg(
              expr("cast(count(*) AS bigint) AS n_orders"),
              expr("cast(sum(price_micros) AS bigint) AS price_total"),
              expr("cast(sum(o_orderkey) AS bigint) AS key_sum"))
            .selectExpr(s"${v}L AS version", "o_orderpriority",
              "n_orders", "price_total", "key_sum")
        }.reduce(_ unionByName _)
      },
      Some("""
        WITH ord AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 1000000, 0) AS BIGINT) AS price_micros,
                 o_orderpriority
          FROM orders)
        SELECT 0::BIGINT AS version, o_orderpriority,
               count(*)::BIGINT AS n_orders, sum(price_micros)::BIGINT AS price_total,
               sum(o_orderkey)::BIGINT AS key_sum
        FROM ord WHERE o_orderkey % 3 != 0 GROUP BY 2
        UNION ALL
        SELECT 1::BIGINT, o_orderpriority,
               count(*)::BIGINT, sum(price_micros)::BIGINT, sum(o_orderkey)::BIGINT
        FROM ord GROUP BY 2""")),

    // ------------------ merge-on-read DELETE (tombstone resolution)
    // deleteWhere rewrites the whole base (copy-on-write); the
    // write-optimized path appends an O(delete)-sized TOMBSTONE delta
    // and lets the reader drop keys whose latest row is a tombstone —
    // Delta deletion-vectors / Iceberg position-deletes at key
    // granularity. The sequence here exercises the ordering semantics
    // end to end: base → data delta (every 10th balance bumped, seq 1)
    // → tombstone (every 7th key, seq 2 — deletes the UPDATED state) →
    // data delta RE-INSERTING every 14th key (seq 3 — a later insert
    // must beat the tombstone). The emitted rows are the full resolved
    // table: one key resolved to the wrong side of its tombstone
    // breaks the hash. All three appends are O(change)-sized; the
    // resolution plan stays three relations wide at any delta count
    // (base + one data multi-scan + one tombstone multi-scan) and
    // shuffles once on the key.
    QueryDef(
      "s27_mor_delete",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        val cust = Tables.customer(spark, dir).selectExpr(
          "c_custkey", "c_name", "cast(c_nationkey AS bigint) AS nation",
          "cast(cast(c_acctbal AS decimal(18,2)) * 100 AS bigint) AS bal_cents",
          "c_mktsegment AS segment")
        commitVersion(spark, cust, root)
        appendDelta(spark,
          cust.where("c_custkey % 10 = 0")
            .selectExpr("c_custkey", "c_name", "nation",
              "bal_cents + 111L AS bal_cents", "'MERGED' AS segment"),
          root, "c_custkey")
        deleteKeysMor(spark,
          cust.where("c_custkey % 7 = 0").select("c_custkey"), root, "c_custkey")
        appendDelta(spark,
          cust.where("c_custkey % 14 = 0")
            .selectExpr("c_custkey", "concat('reborn_', cast(c_custkey AS string)) AS c_name",
              "nation", "0L AS bal_cents", "'REBORN' AS segment"),
          root, "c_custkey")
        readResolved(spark, root, "c_custkey")
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_name, c_nationkey::BIGINT AS nation,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
                 c_mktsegment AS segment
          FROM customer),
        upd AS (
          SELECT c_custkey, c_name, nation,
                 CASE WHEN c_custkey % 10 = 0 THEN bal_cents + 111 ELSE bal_cents END AS bal_cents,
                 CASE WHEN c_custkey % 10 = 0 THEN 'MERGED' ELSE segment END AS segment
          FROM base)
        SELECT * FROM upd WHERE c_custkey % 7 != 0
        UNION ALL
        SELECT c_custkey, 'reborn_' || c_custkey::VARCHAR, nation, 0::BIGINT, 'REBORN'
        FROM base WHERE c_custkey % 14 = 0""")),

    // ------------------------------- RESTORE (metadata-only rollback)
    // v0 = customer base, v1 = the shared MERGE fixture, then
    // restore(v0) commits v2 as a marker pointing at v0's EXISTING
    // data dir — no rewrite. The emitted rows are per-version
    // accounting for all three versions read back AFTER the restore:
    // v2 must be bit-identical to v0 (rollback), while v1 must still
    // be the merged table (history stays time-travelable) — a restore
    // that rewrote, mutated, or clobbered history breaks the hash.
    // LakeSpec separately pins the zero-copy property (no new data
    // dir) and vacuum safety for the shared directory.
    QueryDef(
      "s28_restore",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        commitVersion(spark, Tables.customer(spark, dir), root)
        upsert(spark, updatesFixture(spark, dir), root, "c_custkey")
        val tip = restore(spark, root, 0)
        Seq(0, 1, tip).map { v =>
          readVersion(spark, root, Some(v))
            .groupBy()
            .agg(
              expr("cast(count(*) AS bigint) AS n_rows"),
              expr("cast(sum(cast(round(c_acctbal * 1000000, 0) AS bigint)) AS bigint) AS bal_micros_total"),
              expr("cast(sum(CASE WHEN c_mktsegment = 'MERGED' THEN 1 ELSE 0 END) AS bigint) AS n_merged"))
            .selectExpr(s"${v}L AS version", "n_rows", "bal_micros_total", "n_merged")
        }.reduce(_ unionByName _)
      },
      Some(s"""
        WITH $mergedOracle,
        b AS (
          SELECT count(*)::BIGINT AS n_rows,
                 sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT AS bal_micros_total,
                 0::BIGINT AS n_merged
          FROM base),
        m AS (
          SELECT count(*)::BIGINT, sum(CAST(round(c_acctbal * 1000000, 0) AS BIGINT))::BIGINT,
                 sum(CASE WHEN c_mktsegment = 'MERGED' THEN 1 ELSE 0 END)::BIGINT
          FROM merged)
        SELECT 0::BIGINT AS version, * FROM b
        UNION ALL SELECT 1::BIGINT, * FROM m
        UNION ALL SELECT 2::BIGINT, * FROM b""")),

    // ------------------------------ full ANSI MERGE in one commit
    // The three-clause MERGE the COW path was missing: s13_upsert is
    // update+insert only and s27 deletes through MoR tombstones; this
    // is DELETE + UPDATE + INSERT as ONE atomic version. The source
    // mixes all three shapes keyed off the base: %7 keys carry the
    // delete marker (and win over %10 — one source row per key, the
    // enforced cardinality rule), %10 keys update bal/segment, %13
    // keys insert under shifted ids, and one unmatched marker row pins
    // the ANSI no-op (a DELETE clause never inserts). The gate
    // hash-checks the full resolved table, so a row deleted twice,
    // resurrected, or mis-classified breaks it.
    QueryDef(
      "s29_merge",
      (spark, dir) => {
        val root = graft.TmpDirs.create("graft_lake").toString + "/customer"
        val cust = Tables.customer(spark, dir).selectExpr(
          "c_custkey", "c_name", "cast(c_nationkey AS bigint) AS nation",
          "cast(cast(c_acctbal AS decimal(18,2)) * 100 AS bigint) AS bal_cents",
          "c_mktsegment AS segment")
        commitVersion(spark, cust, root)
        val src = cust.where("c_custkey % 7 = 0 OR c_custkey % 10 = 0")
          .selectExpr("c_custkey", "c_name", "nation",
            "CASE WHEN c_custkey % 7 = 0 THEN bal_cents ELSE bal_cents + 111L END AS bal_cents",
            "CASE WHEN c_custkey % 7 = 0 THEN 'DROP' ELSE 'MERGED' END AS segment")
          .unionByName(
            // strictly-negative keys: disjoint from every base key at
            // ANY scale (base keys are >= 0; plain negation left key 0
            // colliding with its own delete row) — an additive offset
            // collided with shifted shard keys on the ScaleUp corpora
            cust.where("c_custkey % 13 = 0")
              .selectExpr("-(c_custkey + 1) AS c_custkey",
                "concat('Customer#ins', cast(c_custkey AS string)) AS c_name",
                "nation", "0L AS bal_cents", "'FRESH' AS segment"))
          .unionByName(
            cust.groupBy().agg(expr("max(c_custkey) AS mx"))
              .selectExpr("mx + 5000000 AS c_custkey", "'ghost' AS c_name",
                "0L AS nation", "0L AS bal_cents", "'DROP' AS segment"))
        merge(spark, src, root, "c_custkey", "segment = 'DROP'")
        readVersion(spark, root)
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_name, c_nationkey::BIGINT AS nation,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents,
                 c_mktsegment AS segment
          FROM customer)
        SELECT c_custkey, c_name, nation,
               CASE WHEN c_custkey % 10 = 0 THEN bal_cents + 111 ELSE bal_cents END AS bal_cents,
               CASE WHEN c_custkey % 10 = 0 THEN 'MERGED' ELSE segment END AS segment
        FROM base WHERE c_custkey % 7 != 0
        UNION ALL
        SELECT -(c_custkey + 1), 'Customer#ins' || c_custkey::VARCHAR,
               nation, 0::BIGINT, 'FRESH'
        FROM base WHERE c_custkey % 13 = 0"""))
  )

  /** CDC-style diff of two committed snapshots: every key classified
    * added / removed / changed (null-safe, whole-row); unchanged keys
    * drop inside the join. One shuffle on `key` for both snapshots —
    * the scale shape of MERGE itself — with old_/new_ prefixed copies
    * of every non-key column for the caller to project.
    */
  def versionDiff(spark: SparkSession, root: String, key: String,
      from: Int, to: Int): DataFrame = {
    val a = readVersion(spark, root, Some(from))
    val b = readVersion(spark, root, Some(to))
    val cols = a.columns.filterNot(_ == key)
    val sameRow = cols
      .map(c => s"b.`$c` <=> n.`$c`")
      .mkString(" AND ")
    a.as("b").join(b.as("n"), col(s"b.$key") === col(s"n.$key"), "full_outer")
      .where(expr(s"b.$key IS NULL OR n.$key IS NULL OR NOT ($sameRow)"))
      .select(
        Seq(
          expr(s"CASE WHEN b.$key IS NULL THEN 'added' " +
            s"WHEN n.$key IS NULL THEN 'removed' ELSE 'changed' END").as("change"),
          expr(s"coalesce(b.$key, n.$key)").as(key)) ++
        cols.map(c => col(s"b.`$c`").as(s"old_$c")) ++
        cols.map(c => col(s"n.`$c`").as(s"new_$c")): _*)
  }
}
