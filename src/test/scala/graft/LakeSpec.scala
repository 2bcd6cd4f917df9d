package graft

import graft.sources.Lake

/** Versioned-store semantics: manifest-gated commits (write-audit-
  * publish), snapshot isolation across upserts, and merge behavior for
  * the three MERGE cases (update / insert / carry-over).
  */
class LakeSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() =
    SparkSpec.tmpDir("graft_lake_spec").toString + "/t"

  test("a data directory without a manifest entry is not a committed version") {
    val root = freshRoot()
    val v0 = Lake.commitVersion(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    assert(v0 == 0 && Lake.versions(spark, root) == Seq(0))
    // simulate a writer crash AFTER data files, BEFORE the marker
    // publish: the orphan directory must be invisible to readers
    Seq((9L, "orphan")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/v=1-deadbeef")
    assert(Lake.versions(spark, root) == Seq(0))
    assert(Lake.readVersion(spark, root).count() == 2)
    // the next real commit publishes version 1 alongside the orphan
    val v1 = Lake.commitVersion(spark, Seq((3L, "c")).toDF("k", "v"), root)
    assert(v1 == 1 && Lake.versions(spark, root) == Seq(0, 1))
    assert(Lake.readVersion(spark, root).count() == 1)
  }

  test("two interleaved committers produce a linear history: one wins, one retries") {
    // both writers observe the same tip; A publishes first, so B's
    // optimistic commit at the same slot must FAIL (not overwrite),
    // and B's retry path (upsert re-reads the new tip and re-merges)
    // lands its change on top of A's — a linear history with no lost
    // update. Root is an explicit file: URI so the whole protocol —
    // markers included — demonstrably runs through the Hadoop
    // FileSystem for the table's scheme, not driver-local java.nio.
    val root = "file:" + freshRoot()
    Lake.commitVersion(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), root)
    val tip = Lake.versions(spark, root).last
    // writer A wins the slot with a full-table rewrite (1 -> 11)
    assert(Lake.commitVersionAt(spark,
      Seq((1L, 11L), (2L, 20L)).toDF("k", "x"), root, tip).contains(1))
    // writer B raced against the same stale tip and must lose
    assert(Lake.commitVersionAt(spark,
      Seq((1L, 10L), (2L, 22L)).toDF("k", "x"), root, tip).isEmpty)
    assert(Lake.versions(spark, root) == Seq(0, 1))
    assert(Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 11L), (2L, 20L)), "losing writer must not clobber the winner")
    // B retries through upsert: re-reads v1 and merges its row change
    Lake.upsert(spark, Seq((2L, 22L)).toDF("k", "x"), root, "k")
    assert(Lake.versions(spark, root) == Seq(0, 1, 2))
    assert(Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 11L), (2L, 22L)), "retry must land on A's commit, not the stale base")
  }

  test("whole-row MERGE: a matched update row's null column really sets null") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, Some("one"), 10L), (2L, Some("two"), 20L))
        .toDF("k", "name", "x"), root)
    // the update NULLs out name for k=1 — per-column coalesce would
    // silently resurrect "one"; SQL MERGE UPDATE semantics must not
    Lake.upsert(spark,
      Seq((1L, Option.empty[String], 100L)).toDF("k", "name", "x"),
      root, "k")
    val got = Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(got == Set((1L, None, 100L), (2L, Some("two"), 20L)))
  }

  test("appendDelta rejects a batch with duplicate keys") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, 10L)).toDF("k", "x"), root)
    intercept[IllegalArgumentException] {
      Lake.appendDelta(spark, Seq((2L, 1L), (2L, 2L)).toDF("k", "x"), root, "k")
    }
  }

  test("upsert merges all three MERGE cases and old snapshots stay pristine") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "one", 10L), (2L, "two", 20L), (3L, "three", 30L)).toDF("k", "name", "x"),
      root)
    Lake.upsert(spark,
      Seq((2L, "TWO", 200L), (4L, "four", 40L)).toDF("k", "name", "x"),
      root, "k")
    val v1 = Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(v1 == Set(
      (1L, "one", 10L),    // carry-over
      (2L, "TWO", 200L),   // update wins
      (3L, "three", 30L),  // carry-over
      (4L, "four", 40L)))  // insert
    // time travel: the pre-upsert snapshot is byte-for-byte the base
    val v0 = Lake.readVersion(spark, root, Some(0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(v0 == Set((1L, "one", 10L), (2L, "two", 20L), (3L, "three", 30L)))
  }

  test("merge-on-read: later delta wins per key, and compaction changes nothing") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x"), root)
    Lake.appendDelta(spark, Seq((2L, 200L), (4L, 40L)).toDF("k", "x"), root, "k")
    Lake.appendDelta(spark, Seq((2L, 2000L)).toDF("k", "x"), root, "k")
    def resolved() = Lake.readResolved(spark, root, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = resolved()
    assert(before == Set((1L, 10L), (2L, 2000L), (3L, 30L), (4L, 40L)))
    // an orphan delta directory without a manifest line is invisible
    Seq((9L, 999L)).toDF("k", "x").write.mode("overwrite").parquet(s"$root/d=3-deadbeef")
    assert(resolved() == before)
    // compaction folds the deltas into a fresh base: content identical,
    // delta list reset, and the pre-compaction version still readable
    Lake.compact(spark, root, "k")
    assert(resolved() == before)
    assert(Lake.readVersion(spark, root, Some(0)).count() == 3)
  }

  test("randomized operation sequences match an in-memory reference model") {
    // model-based check: a random interleaving of COW upserts, COW
    // deletes, MOR delta appends, and compactions must leave the
    // RESOLVED table equal to a plain Map fold of the same operations
    // — the whole-store invariant no single-path test pins
    val rng = new scala.util.Random(20260814)
    for (trial <- 1 to 3) {
      val root = freshRoot() + s"_t$trial"
      var model = (0L until 20L).map(k => k -> (k * 10L)).toMap
      Lake.commitVersion(spark, model.toSeq.toDF("k", "x"), root)
      for (step <- 1 to 8) {
        rng.nextInt(4) match {
          case 0 => // COW upsert of a random batch (updates + fresh keys)
            val upd = Seq.fill(rng.nextInt(5) + 1)(
              rng.nextInt(30).toLong -> (step * 1000L + rng.nextInt(100))).toMap
            // MOR deltas must see the same base: fold pending deltas
            // first is NOT modeled — so compact before any COW op
            Lake.compact(spark, root, "k")
            Lake.upsert(spark, upd.toSeq.toDF("k", "x"), root, "k")
            model = model ++ upd
          case 1 => // COW delete of a random predicate
            val cut = rng.nextInt(30).toLong
            Lake.compact(spark, root, "k")
            Lake.deleteWhere(spark, root, s"k % 30 = $cut")
            model = model.filter { case (k, _) => k % 30 != cut }
          case 2 => // MOR delta append (latest wins per key)
            val upd = Seq.fill(rng.nextInt(5) + 1)(
              rng.nextInt(30).toLong -> (step * 1000L + 500L + rng.nextInt(100))).toMap
            Lake.appendDelta(spark, upd.toSeq.toDF("k", "x"), root, "k")
            model = model ++ upd
          case 3 =>
            Lake.compact(spark, root, "k")
        }
        val got = Lake.readResolved(spark, root, "k")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == model, s"trial $trial diverged at step $step")
      }
    }
  }

  test("vacuum drops expired versions and orphans; the retained tail survives") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, 10L)).toDF("k", "x"), root)
    Lake.commitVersion(spark, Seq((1L, 11L)).toDF("k", "x"), root)
    Lake.commitVersion(spark, Seq((1L, 12L)).toDF("k", "x"), root)
    // orphan data dir from a crashed/race-losing commit
    Seq((9L, 99L)).toDF("k", "x").write.mode("overwrite").parquet(s"$root/v=7-deadbeef")
    // under the default retention a FRESH unreferenced dir is
    // indistinguishable from an in-flight commit and must survive...
    val cautious = Lake.vacuum(spark, root, keep = 2)
    assert(cautious.size == 1 && !cautious.contains("v=7-deadbeef"),
      s"fresh orphan must be protected by retention, removed: $cautious")
    // ...and deletes once the retention window is waived
    val removed = Lake.vacuum(spark, root, keep = 1, orphanRetentionMs = 0L)
    assert(removed.size == 2, s"expected 1 more expired + 1 orphan, got $removed")
    assert(Lake.versions(spark, root) == Seq(2))
    assert(Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 12L)))
    // time travel to a vacuumed version now fails like an uncommitted one
    intercept[IllegalArgumentException] { Lake.readVersion(spark, root, Some(0)) }
    // only the retained data directory remains on disk
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v=")).toSeq
    assert(dirs.size == 1, s"stale data dirs survived: $dirs")
  }

  test("shallow clone copies no data and evolves independently of the source") {
    val work = SparkSpec.tmpDir("graft_lake_clone").toString
    val src = s"$work/src"
    val dst = s"$work/dst"
    Lake.commitVersion(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), src)
    Lake.cloneTable(spark, src, dst)
    // zero-copy: the clone root holds ONLY the marker — no data dirs
    val dataDirs = new java.io.File(dst).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName)
    assert(dataDirs.isEmpty, s"clone copied data: ${dataDirs.mkString(",")}")
    assert(Lake.readVersion(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 10L), (2L, 20L)))
    // the clone evolves alone; the source never sees its commits
    Lake.upsert(spark, Seq((2L, 200L)).toDF("k", "x"), dst, "k")
    assert(Lake.readVersion(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 10L), (2L, 200L)))
    assert(Lake.versions(spark, src) == Seq(0))
    assert(Lake.readVersion(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 10L), (2L, 20L)))
    // cloning onto an existing table must refuse, not clobber
    intercept[IllegalArgumentException] { Lake.cloneTable(spark, src, dst) }
  }

  test("readResolved over 60 deltas: flat two-scan plan, exact latest-wins content") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      (0L until 10L).map(k => (k, -1L)).toDF("k", "x"), root)
    // 60 single-row deltas, each bumping one key — the r10 plan was a
    // 60-wide unionByName ladder whose analysis time grew per delta
    (1 to 60).foreach { i =>
      Lake.appendDelta(spark, Seq((i.toLong % 10L, i.toLong)).toDF("k", "x"), root, "k")
    }
    val resolved = Lake.readResolved(spark, root, "k")
    // ONE multi-path delta scan + the base scan = exactly two parquet
    // relations, however many deltas are pending
    val scans = resolved.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(scans.size == 2, s"expected base + one multi-path delta scan, got ${scans.size}")
    // latest-wins: key k's last update is the highest i with i%10==k
    val got = resolved.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 10L).foreach { k =>
      val expect = (1 to 60).filter(_ % 10 == k).max.toLong
      assert(got(k) == expect, s"key $k resolved to ${got(k)}, want $expect")
    }
  }

  test("a lock-serializing coordinator linearizes racers even on a non-atomic base") {
    // model of the object-store seam: the base primitive is a
    // DELIBERATELY non-atomic check-then-create with a yield between
    // check and create (worse than any real FS), and the coordinator
    // contract — serialize publishes — is supplied by a lock, the way
    // an external commit service (Delta's S3 coordinator, Iceberg's
    // catalog CAS) would. Exactly one of two racing publishers of the
    // same slot may win.
    val lock = new Object
    val nonAtomicLocked = new Lake.CommitCoordinator {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          path: org.apache.hadoop.fs.Path, body: String): Boolean = lock.synchronized {
        if (fs.exists(path)) false
        else {
          Thread.`yield`() // widen the TOCTOU window the lock must cover
          val out = fs.create(path, true) // overwrite=true: NO FS atomicity
          try out.write(body.getBytes("UTF-8")) finally out.close()
          true
        }
      }
    }
    Lake.withCoordinator(nonAtomicLocked) {
      val root = freshRoot()
      Lake.commitVersion(spark, Seq((1L, 10L)).toDF("k", "x"), root)
      val tip = Lake.versions(spark, root).last
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val wins = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Int]] {
          def call(): Option[Int] = {
            gate.await(5, TimeUnit.SECONDS)
            Lake.commitVersionAt(spark,
              Seq((1L, 100L + i)).toDF("k", "x"), root, tip)
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(results.count(_.isDefined) == 1,
        s"exactly one racer may publish version ${tip + 1}: $results")
      assert(Lake.versions(spark, root) == Seq(0, 1))
      // the surviving content is the winner's, readable and complete
      val x = Lake.readVersion(spark, root).collect().map(_.getLong(1)).toSeq
      assert(x == Seq(100L) || x == Seq(101L))
    }
  }

  test("object-store CAS coordinator: conditional PUT linearizes racers") {
    // the third coordinator binding: winner selection happens in the
    // STORE's put-if-absent (the S3/GCS/Azure conditional-PUT model),
    // the fs marker is a backfilled projection — exactly one of two
    // racing publishers of the same slot may win, same contract the
    // file:// hard-link and HDFS conditional-create bindings satisfy
    val store = new Lake.InMemoryObjectStore
    Lake.withCoordinator(new Lake.ObjectStoreCoordinator(store)) {
      val root = freshRoot()
      Lake.commitVersion(spark, Seq((1L, 10L)).toDF("k", "x"), root)
      val tip = Lake.versions(spark, root).last
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val wins = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Int]] {
          def call(): Option[Int] = {
            gate.await(5, TimeUnit.SECONDS)
            Lake.commitVersionAt(spark,
              Seq((1L, 100L + i)).toDF("k", "x"), root, tip)
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(results.count(_.isDefined) == 1,
        s"exactly one racer may publish version ${tip + 1}: $results")
      assert(Lake.versions(spark, root) == Seq(0, 1))
      val x = Lake.readVersion(spark, root).collect().map(_.getLong(1)).toSeq
      assert(x == Seq(100L) || x == Seq(101L))
      // and upserts keep flowing through the store binding afterwards
      Lake.upsert(spark, Seq((2L, 22L)).toDF("k", "x"), root, "k")
      assert(Lake.versions(spark, root) == Seq(0, 1, 2))
    }
  }

  test("object-store coordinator backfills a winner that crashed before the fs marker") {
    val store = new Lake.InMemoryObjectStore
    Lake.withCoordinator(new Lake.ObjectStoreCoordinator(store)) {
      val root = freshRoot()
      Lake.commitVersion(spark, Seq((1L, 10L)).toDF("k", "x"), root)
      // simulate the crash window: a writer committed version 1 in the
      // STORE (its data files are down, the conditional PUT succeeded)
      // but died before materializing the readable fs marker
      val crashedDir = "v=1-crashed0"
      Seq((1L, 111L)).toDF("k", "x")
        .write.mode("overwrite").parquet(s"$root/$crashedDir")
      val key = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(root, "_versions"), "1").toUri.getPath
      assert(store.putIfAbsent(key, crashedDir.getBytes("UTF-8")))
      // the crashed commit is invisible until somebody publishes...
      assert(Lake.versions(spark, root) == Seq(0))
      // ...and the next writer completes it: its attempt at slot 1
      // loses to the store's committed body, BACKFILLS the marker, and
      // retries onto slot 2 — no wedged table, no lost commit
      val v = Lake.commitVersion(spark, Seq((2L, 20L)).toDF("k", "x"), root)
      assert(v == 2 && Lake.versions(spark, root) == Seq(0, 1, 2))
      assert(Lake.readVersion(spark, root, Some(1))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 111L)),
        "the backfilled version must carry the crashed winner's content")
    }
  }

  test("optimizeZOrder commits a z-clustered rewrite: content intact, scans prune") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = freshRoot()
    val ev = Tables.events(spark, "/root/testdata/sf0.01").selectExpr(
      "event_id", "user_id", "event_type", "value", "cast(day(ts) AS int) AS d")
    Lake.commitVersion(spark, ev, root)
    val v = Lake.optimizeZOrder(spark, root, "user_id", "d")
    assert(v == 1 && Lake.versions(spark, root) == Seq(0, 1))
    // the rewrite is layout-only: same multiset of rows, v0 untouched
    val total = ev.count()
    assert(Lake.readVersion(spark, root).count() == total)
    assert(Lake.readVersion(spark, root, Some(0)).count() == total)
    assert(Lake.readVersion(spark, root)
      .agg(org.apache.spark.sql.functions.expr("sum(event_id)")).head.getLong(0)
      == Lake.readVersion(spark, root, Some(0))
      .agg(org.apache.spark.sql.functions.expr("sum(event_id)")).head.getLong(0))
    // scan-level numOutputRows = rows surviving parquet row-group
    // min/max pruning — the bytes a cluster would actually read
    def scanned(ver: Int, pred: String): Long = {
      val df = Lake.readVersion(spark, root, Some(ver)).where(pred)
      df.collect()
      val scan = df.queryExecution.executedPlan
        .collectFirst { case s: FileSourceScanExec => s }.get
      scan.metrics("numOutputRows").value
    }
    val zUser = scanned(1, "user_id BETWEEN 3 AND 5")
    val zDay = scanned(1, "d BETWEEN 10 AND 12")
    val baseUser = scanned(0, "user_id BETWEEN 3 AND 5")
    assert(zUser < total / 2, s"user band read $zUser of $total rows after OPTIMIZE")
    assert(zDay < total / 2, s"day band read $zDay of $total rows after OPTIMIZE")
    assert(zUser < baseUser,
      s"OPTIMIZE must read strictly less than the unclustered base ($zUser vs $baseUser)")
  }

  test("upsert survives a table whose own column is named _u") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("k", "_u", "x"), root)
    Lake.upsert(spark, Seq((2L, 200L, 22L), (3L, 300L, 33L)).toDF("k", "_u", "x"),
      root, "k")
    val got = Lake.readVersion(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 10L, 1L), (2L, 200L, 22L), (3L, 300L, 33L)))
  }

  test("versionDiff classifies added/removed/changed and drops unchanged keys") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, Some("a"), 10L), (2L, Some("b"), 20L), (3L, Some("c"), 30L),
        (4L, Option.empty[String], 40L)).toDF("k", "name", "x"), root)
    // v1: change 2 (value), change 4 (null -> value: null-safe compare
    // must see it), insert 5; then v2 deletes key 3
    Lake.upsert(spark,
      Seq((2L, Some("b"), 200L), (4L, Some("now"), 40L), (5L, Some("e"), 50L))
        .toDF("k", "name", "x"), root, "k")
    Lake.deleteWhere(spark, root, "k = 3")
    val diff = Lake.versionDiff(spark, root, "k", 0, 2)
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "removed", 4L -> "changed", 5L -> "added"),
      s"got $diff")
    // identical snapshots diff to empty
    assert(Lake.versionDiff(spark, root, "k", 2, 2).isEmpty)
  }

  test("readVersion rejects uncommitted version numbers") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, "a")).toDF("k", "v"), root)
    intercept[IllegalArgumentException] {
      Lake.readVersion(spark, root, Some(7))
    }
    intercept[IllegalArgumentException] {
      Lake.readVersion(spark, root + "_missing")
    }
  }

  test("two racing optimizeZOrder calls serialize: linear history, loser debris cleaned") {
    val root = freshRoot()
    val base = (0L until 64L).map(i => (i % 8, i / 8, i)).toDF("a", "b", "k")
    Lake.commitVersion(spark, base, root)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val futures = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await(5, TimeUnit.SECONDS)
          Lake.optimizeZOrder(spark, root, "a", "b", nFiles = 4)
        }
      })
    }
    gate.countDown()
    val got = futures.map(_.get(180, TimeUnit.SECONDS)).sorted
    pool.shutdown()
    // both calls complete; the loser re-reads the winner's tip and
    // commits its own (content-identical) rewrite on the next slot —
    // a LINEAR history with no skipped or duplicated version numbers
    assert(got == Seq(1, 2), s"racing optimizes must land on consecutive slots: $got")
    assert(Lake.versions(spark, root) == Seq(0, 1, 2))
    // every version carries the identical row set (optimize rewrites
    // layout, never content)
    val want = base.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    (0 to 2).foreach { v =>
      val gotRows = Lake.readVersion(spark, root, Some(v)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotRows == want, s"version $v content drifted")
    }
    // the race loser's first-attempt directory is GONE: on-disk v=*
    // dirs are exactly the marker-referenced set, no debris
    val referenced = (0 to 2).flatMap { v =>
      val p = java.nio.file.Paths.get(root, "_versions", v.toString)
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    }.toSet
    val onDisk = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(onDisk == referenced, s"loser debris survived: ${onDisk -- referenced}")
  }

  test("vacuum racing live committers never deletes an in-flight commit's data") {
    // the orphanRetention contract under REAL interleaving: a data dir
    // that exists without a marker may be a commit mid-publish, and
    // default retention must protect it — here vacuum hammers the root
    // while a committer lands 8 versions, and every landed version
    // must stay complete and readable afterwards
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((0L, 0L)).toDF("k", "x"), root)
    import java.util.concurrent.atomic.AtomicBoolean
    val done = new AtomicBoolean(false)
    val vacuumErrors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val vac = new Thread(() => {
      while (!done.get()) {
        try Lake.vacuum(spark, root, keep = 1000) // default retention
        catch { case t: Throwable => vacuumErrors.add(t) }
      }
    })
    vac.start()
    val landed = (1 to 8).map { i =>
      Lake.commitVersion(spark, Seq((i.toLong, i * 10L)).toDF("k", "x"), root)
    }
    done.set(true)
    vac.join(30000)
    assert(vacuumErrors.isEmpty, s"vacuum threw mid-race: ${vacuumErrors.peek()}")
    assert(landed == (1 to 8), s"commits must land consecutively: $landed")
    // every committed version survived the concurrent vacuums intact
    (0 to 8).foreach { v =>
      val rows = Lake.readVersion(spark, root, Some(v)).collect()
      assert(rows.length == 1, s"version $v lost its data to a racing vacuum")
    }
  }

  test("restore is metadata-only: no data rewrite, tip rolls back, history stays readable") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Lake.commitVersion(spark, Seq((1L, "A"), (3L, "c")).toDF("k", "v"), root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    def dataDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("v=")).toSet
    val before = dataDirs()
    val tip = Lake.restore(spark, root, 0)
    assert(tip == 2)
    // zero-copy: the restore commit wrote NO new data directory
    assert(dataDirs() == before, "restore must not rewrite data")
    // the tip is v0's content; v1 stays time-travelable
    assert(Lake.readVersion(spark, root).collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(Lake.readVersion(spark, root, Some(1)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "A"), (3L, "c")))
  }

  test("vacuum keeps a restored tip's shared data dir even after the source version expires") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, "a")).toDF("k", "v"), root)
    Lake.commitVersion(spark, Seq((2L, "b")).toDF("k", "v"), root)
    val tip = Lake.restore(spark, root, 0) // v2 references v0's dir
    // retain only the tip: v0 and v1 markers expire, but v0's DATA DIR
    // is still referenced by v2 — reference-based retention must keep it
    Lake.vacuum(spark, root, keep = 1, orphanRetentionMs = 0L)
    assert(Lake.versions(spark, root) == Seq(tip))
    assert(Lake.readVersion(spark, root).collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the shared data dir must survive while the restored tip references it")
  }

  test("s22_zorder: buckets partition the table and tighten both dimensions") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.byName("s22_zorder").run(spark, sf).collect()
      .map(r => (r.getAs[Long]("zb"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_p"), r.getAs[Long]("max_p"),
        r.getAs[Long]("min_s"), r.getAs[Long]("max_s")))
    assert(rows.length > 1)
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(rows.map(_._2).sum == total)
    val gSpanP = rows.map(_._4).max - rows.map(_._3).min + 1
    val gSpanS = rows.map(_._6).max - rows.map(_._5).min + 1
    // the z-order promise: an average bucket bounds each dimension far
    // tighter than the full table does (16 range buckets = 2 Z-bits
    // per dimension => spans around a quarter of the global range)
    // weight by rows so a sliver bucket cannot carry the average
    val avgSpanP = rows.map(r => (r._4 - r._3 + 1) * r._2).sum / total
    val avgSpanS = rows.map(r => (r._6 - r._5 + 1) * r._2).sum / total
    assert(avgSpanP * 2 <= gSpanP, s"p spans not tightened: $avgSpanP vs $gSpanP")
    assert(avgSpanS * 2 <= gSpanS, s"s spans not tightened: $avgSpanS vs $gSpanS")
  }

  test("bloom index: point lookups prune files, never rows") {
    val root = freshRoot()
    // 64 keys hashed into 8 files — any one key lives in exactly one
    // file, so a perfect skip reads 1/8 of the table
    val df = (0L until 64L).flatMap(k => Seq((k, s"a$k"), (k, s"b$k")))
      .toDF("k", "payload").repartition(8, org.apache.spark.sql.functions.col("k"))
    Lake.commitVersion(spark, df, root)
    val idx = Lake.buildBloomIndex(spark, root, "k")
    assert(idx.count() == 8, "one sidecar row per data file")
    // no false negatives: every key's lookup returns BOTH its rows
    for (k <- Seq(0L, 17L, 63L)) {
      val got = Lake.bloomLookup(spark, root, "k", k)
        .collect().map(_.getAs[String]("payload")).sorted
      assert(got.toSeq == Seq(s"a$k", s"b$k"), s"key $k: got ${got.toSeq}")
    }
    // pruning: the candidate file set is a strict subset of the 8
    // files (with 4 hashes in 2^16 bits over ≤ 8 keys/file, a false
    // positive on all 7 other files is impossible in practice)
    val cands = Lake.bloomCandidates(spark, root, "k", 17L)
    assert(cands.nonEmpty && cands.length < 8,
      s"expected file pruning, candidates = ${cands.length} of 8 files")
    // absent key: empty result, same schema
    assert(Lake.bloomLookup(spark, root, "k", 999L).count() == 0)
  }

  test("commitChecked: a violating batch never becomes a version; a clean one does") {
    val root = freshRoot()
    Lake.commitVersion(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    // the dirty batch trips one of two constraints → audit says so,
    // committed=false on every row, and the history is UNCHANGED
    val bad = Lake.commitChecked(spark,
      Seq((3L, 30L), (4L, -5L), (5L, -7L)).toDF("k", "v"), root, "k",
      Seq("non_negative" -> "v >= 0", "key_present" -> "k IS NOT NULL"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
    assert(bad == Set(
      ("non_negative", 2L, 4L, false),
      ("key_present", 0L, -1L, false)), s"got $bad")
    assert(Lake.versions(spark, root) == Seq(0))
    assert(Lake.readVersion(spark, root).count() == 2)
    // the clean batch commits version 1 and the audit reports it
    val ok = Lake.commitChecked(spark,
      Seq((3L, 30L)).toDF("k", "v"), root, "k",
      Seq("non_negative" -> "v >= 0"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(ok == Set(("non_negative", 0L, true)), s"got $ok")
    assert(Lake.versions(spark, root) == Seq(0, 1))
    assert(Lake.readVersion(spark, root).count() == 1)
  }

  test("partition evolution: v1 prunes directories on the partition filter, v0 stays flat") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = freshRoot()
    val ord = Tables.orders(spark, "/root/testdata/sf0.001").selectExpr(
      "o_orderkey", "o_custkey",
      "cast(round(o_totalprice * 1000000, 0) AS bigint) AS price_micros",
      "o_orderpriority")
    Lake.commitVersion(spark, ord, root)
    Lake.commitVersionPartitioned(spark, ord, root, Seq("o_orderpriority"))
    assert(Lake.versions(spark, root) == Seq(0, 1))

    // the evolved layout is hive directories, space-bearing value included;
    // the original layout has none
    def dataDir(v: Int) = {
      val marker = new java.io.File(s"$root/_versions/$v")
      new java.io.File(root, new String(
        java.nio.file.Files.readAllBytes(marker.toPath)).trim)
    }
    val v1Dirs = dataDir(1).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(v1Dirs.exists(_.startsWith("o_orderpriority=")), s"no hive dirs: $v1Dirs")
    assert(v1Dirs.size == 5, s"expected 5 priority directories: $v1Dirs")
    assert(!dataDir(0).listFiles().exists(d =>
      d.isDirectory && d.getName.startsWith("o_orderpriority=")), "v0 layout rewritten")

    // the space in '4-NOT SPECIFIED' survives the path encode/decode
    val got = Lake.readVersion(spark, root, Some(1))
      .select("o_orderpriority").distinct().collect().map(_.getString(0)).toSet
    val want = ord.select("o_orderpriority").distinct().collect().map(_.getString(0)).toSet
    assert(got == want, s"partition values mangled: $got vs $want")

    def scan(v: Int, pred: String): FileSourceScanExec = {
      val df = Lake.readVersion(spark, root, Some(v)).where(pred)
      df.collect()
      df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
    }
    // v1: the filter is a PartitionFilter — whole directories pruned
    // before any file I/O; only the urgent rows are ever scanned
    val s1 = scan(1, "o_orderpriority = '1-URGENT'")
    assert(s1.partitionFilters.nonEmpty, "filter did not reach the partition layer")
    val urgent = ord.where("o_orderpriority = '1-URGENT'").count()
    assert(s1.metrics("numOutputRows").value == urgent,
      s"scanned ${s1.metrics("numOutputRows").value}, urgent partition holds $urgent")
    // v0: same predicate is only a data filter on the flat layout
    val s0 = scan(0, "o_orderpriority = '1-URGENT'")
    assert(s0.partitionFilters.isEmpty, "flat v0 cannot have partition filters")
  }

  test("MOR delete: tombstones drop keys, a later insert revives them, compaction folds it all") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "v"), root)
    Lake.appendDelta(spark, Seq((2L, "b2", 22L)).toDF("k", "name", "v"), root, "k")
    Lake.deleteKeysMor(spark, Seq(2L, 3L, 99L).toDF("k"), root, "k") // 99 never existed
    Lake.appendDelta(spark, Seq((3L, "c-back", 33L)).toDF("k", "name", "v"), root, "k")
    def resolved() = Lake.readResolved(spark, root, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = Seq((1L, "a", 10L), (3L, "c-back", 33L))
    assert(resolved() == want, s"got ${resolved()}")
    // tombstone batches must be exactly the key column
    intercept[IllegalArgumentException] {
      Lake.deleteKeysMor(spark, Seq((1L, "x")).toDF("k", "junk"), root, "k")
    }
    // compaction: identical content, markers retired, deleted keys
    // physically absent from the new base
    Lake.compact(spark, root, "k")
    assert(resolved() == want, "compaction changed the resolved content")
    assert(!new java.io.File(s"$root/_deltas").exists() ||
      new java.io.File(s"$root/_deltas").listFiles().isEmpty,
      "consumed tombstone markers must retire")
    val baseKeys = Lake.readVersion(spark, root).select("k").collect().map(_.getLong(0)).sorted
    assert(baseKeys.toSeq == Seq(1L, 3L), "tombstoned key survived into the compacted base")
  }
  test("full MERGE: delete + update + insert land in one commit; unmatched delete is a no-op") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "x"), root)
    val src = Seq(
      (2L, "b2", 99L, "UPD"), (3L, "c", 0L, "DROP"),
      (4L, "d", 40L, "UPD"), (9L, "ghost", 0L, "DROP"))
      .toDF("k", "name", "x", "op")
    val v = Lake.merge(spark, src, root, "k", "op = 'DROP'")
    assert(v == 1)
    val tip = Lake.readVersion(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tip == Set((1L, "a", 10L), (2L, "b2", 99L), (4L, "d", 40L)),
      "exactly: 1 carried, 2 updated, 3 deleted, 4 inserted, ghost ignored")
    assert(Lake.readVersion(spark, root, Some(0)).count() == 3,
      "MERGE must not touch the old snapshot")
    val dup = Seq((5L, "x", 1L, "UPD"), (5L, "y", 2L, "UPD")).toDF("k", "name", "x", "op")
    intercept[IllegalArgumentException](Lake.merge(spark, dup, root, "k", "op = 'DROP'"))
    assert(Lake.versions(spark, root) == Seq(0, 1),
      "a rejected cardinality violation must not commit")
  }

  test("MERGE: a NULL deleteCond is three-valued — matched row updates, unmatched row does NOT insert") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "x"), root)
    // op NULL ⇒ deleteCond `op = 'DROP'` evaluates to NULL on that row
    val src = Seq(
      (2L, "b2", 99L, null.asInstanceOf[String]), // matched + NULL cond → UPDATE (DELETE clause unfired)
      (5L, "e", 50L, null.asInstanceOf[String]),  // unmatched + NULL cond → no-op (NOT NULL is unknown)
      (6L, "f", 60L, "UPD"))                      // unmatched + FALSE cond → INSERT
      .toDF("k", "name", "x", "op")
    Lake.merge(spark, src, root, "k", "op = 'DROP'")
    val tip = Lake.readVersion(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tip == Set((1L, "a", 10L), (2L, "b2", 99L), (6L, "f", 60L)),
      "NULL-cond unmatched source row must be a no-op, not an insert")
  }

  test("MERGE: a source column literally named _b must not make the survivor predicate ambiguous") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "x"), root)
    // sources may carry extra columns (e.g. the op flag); one named
    // exactly like the base-marker used to collide with it and fail
    // analysis on the unqualified $sb reference
    val src = Seq(
      (2L, "b2", 99L, "UPD", "collide"), (3L, "c", 30L, "UPD", "collide"))
      .toDF("k", "name", "x", "op", "_b")
    Lake.merge(spark, src, root, "k", "op = 'DROP'")
    val tip = Lake.readVersion(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tip == Set((1L, "a", 10L), (2L, "b2", 99L), (3L, "c", 30L)),
      "merge with a _b-named source column must update and insert normally")
    assert(!Lake.readVersion(spark, root).columns.contains("_b"),
      "the extra source column must not leak into the table schema")
  }

  test("MERGE: a source column literally named _u keeps its DATA when deleteCond reads it") {
    val root = freshRoot()
    Lake.commitVersion(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "name", "x"), root)
    // the upsert marker used to be uniqued against BASE columns only:
    // a source column named _u was silently overwritten by the lit(1)
    // marker BEFORE deleteCond evaluated, so a condition reading _u
    // saw the constant — wrong rows deleted/inserted, no error
    val src = Seq(
      (2L, "b2", 99L, 7L), // _u = 7 → DELETE key 2
      (3L, "c2", 31L, 0L), // _u = 0 → UPDATE key 3
      (4L, "d", 40L, 0L))  // _u = 0, unmatched → INSERT key 4
      .toDF("k", "name", "x", "_u")
    Lake.merge(spark, src, root, "k", "_u = 7")
    val tip = Lake.readVersion(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tip == Set((1L, "a", 10L), (3L, "c2", 31L), (4L, "d", 40L)),
      "deleteCond must see the source's own _u data, not the merge marker")
    assert(!Lake.readVersion(spark, root).columns.contains("_u"),
      "the extra source column must not leak into the table schema")
  }

}
