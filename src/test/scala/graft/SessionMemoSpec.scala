package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class SessionMemoSpec extends SparkSpec {
  test("8 threads racing the first apply build once and share one instance") {
    val builds = new AtomicInteger
    val memo = new SessionMemo[Object]((_, _) => {
      builds.incrementAndGet()
      Thread.sleep(50) // hold the slot open while the other threads arrive
      new Object
    }, _ => ())
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val got = (1 to 8).map(_ => Future { start.await(); memo(spark, "race") })
      start.countDown()
      val values = got.map(Await.result(_, 30.seconds))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow(): Unit
  }

  test("reset releases a built value once and the next apply rebuilds; an unbuilt key is left alone") {
    val builds = new AtomicInteger
    val released = scala.collection.mutable.Buffer.empty[Object]
    val memo = new SessionMemo[Object]((_, _) => { builds.incrementAndGet(); new Object },
      v => released.synchronized { released += v; () })
    val first = memo(spark, "a")
    memo.reset(spark, "a")
    memo.reset(spark, "a")
    assert(released.toList == List(first))
    val second = memo(spark, "a")
    assert(builds.get == 2 && !(second eq first))
    memo.reset(spark, "never-built")
    assert(builds.get == 2 && released.size == 1)
  }

  test("every resetMemo row returns the persisted RDD set to what it was before the run") {
    val sf = "/root/testdata/sf0.001"
    val rows = Registry.all.filter(_.resetMemo.isDefined)
    assert(rows.map(_.name).toSet == Set("gr_labelprop", "tp_bpe_train", "ml_train_linear"))
    def cycle(d: QueryDef): Unit = {
      d.run(spark, sf).collect()
      d.resetMemo.get(spark, sf)
    }
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    for (d <- rows) {
      cycle(d) // warm: input memos such as purchaseEdges are built here
      val before = persisted()
      cycle(d)
      assert(persisted() == before, d.name)
    }
  }
}
