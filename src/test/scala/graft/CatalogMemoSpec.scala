package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.model.GraftException
import graft.planner.{CubeQuery, LevelDrill, LevelRef, MemberCut, Planner,
  TopShareCut}
import SparkTestSession.spark

/** The catalog memo: one bounded table, each key computed once, failures
  * never stored, evicted and closed-over frames released. */
class CatalogMemoSpec extends AnyFunSuite {

  private def freshCatalog(): CubeCatalog =
    TpchCatalog.build(spark, SparkTestSession.sf)

  /** Run `body` on `n` threads at once. `body` may block on `gate`, which
    * opens only once every thread is parked (the computing one on the gate,
    * the rest waiting for its result) — so all `n` callers provably overlap
    * one computation. Returns each thread's outcome. */
  private def concurrently[T](n: Int)(body: CountDownLatch => T)
      : Seq[Either[Throwable, T]] = {
    val gate = new CountDownLatch(1)
    val out = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, T]]
    val threads = (0 until n).map { i =>
      new Thread(() => {
        out.put(i, try Right(body(gate)) catch { case e: Throwable => Left(e) })
        ()
      })
    }
    threads.foreach(_.start())
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!threads.forall(_.getState == Thread.State.WAITING) &&
        System.nanoTime() < deadline)
      Thread.sleep(10)
    gate.countDown()
    threads.foreach(_.join(60000))
    (0 until n).map(out.get)
  }

  test("concurrent callers of one missing key run compute once") {
    val cat = freshCatalog()
    try {
      val computes = new AtomicInteger(0)
      val got = concurrently(8) { gate =>
        cat.memo(CubeCatalog.TopKKeys)(("sales", "d", "h", "l", 3, "m")) {
          computes.incrementAndGet()
          gate.await()
          Seq[Any](1, 2, 3)
        }
      }
      assert(computes.get == 1)
      assert(got.forall(_.isRight))
      val first = got.head.toOption.get
      assert(first == Seq(1, 2, 3))
      assert(got.forall(_.toOption.get eq first))
    } finally cat.close()
  }

  test("a throwing compute is not stored; every caller gets its status") {
    val cat = freshCatalog()
    try {
      val key = ("sales", "__failing", "")
      val computes = new AtomicInteger(0)
      val got = concurrently(8) { gate =>
        cat.memo(CubeCatalog.MemberCount)(key) {
          computes.incrementAndGet()
          gate.await()
          GraftException.badRequest("boom"): Long
        }
      }
      assert(computes.get == 1)
      val errs = got.map(_.left.toOption.get)
      assert(errs.forall(e => e.isInstanceOf[GraftException] &&
        e.asInstanceOf[GraftException].status == 400))
      assert(errs.forall(_ eq errs.head))
      assert(cat.memoSize == 0)
      // the next call retries
      assert(cat.memo(CubeCatalog.MemberCount)(key)(7L) == 7L)
      assert(cat.memoSize == 1)
      // a planner-side failure (TopPercent's threshold check runs inside
      // its memo compute) keeps its 400 on every call
      val q = CubeQuery("sales",
        Seq(LevelDrill(LevelRef("Part", Some("Brand"), Some("Brands")))),
        Seq("revenue"), cuts = Seq(TopShareCut(
          LevelRef("Part", Some("Brand"), Some("Brands")), -5, "revenue")))
      for (_ <- 1 to 2) {
        val e = intercept[GraftException](Planner.plan(cat, q))
        assert(e.status == 400)
      }
    } finally cat.close()
  }

  test("the table stays at its cap and evicted frames are unpersisted") {
    val cat = freshCatalog()
    try {
      val n = CubeCatalog.MaxMemoEntries + 44
      val frames = (0 until n).map { i =>
        cat.memo(CubeCatalog.MemberFrame)(("sales", s"__evict$i", false)) {
          spark.range(i.toLong, i + 1L).toDF("id").persist()
        }
      }
      assert(cat.memoSize == CubeCatalog.MaxMemoEntries)
      // never re-read, so the oldest entries are the least recently used
      frames.take(n - CubeCatalog.MaxMemoEntries).foreach(df =>
        assert(df.storageLevel == StorageLevel.NONE))
      frames.drop(n - CubeCatalog.MaxMemoEntries).foreach(df =>
        assert(df.storageLevel.useMemory))
    } finally cat.close()
  }

  test("dense queries past the cap answer like a fresh catalog") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def all[T](fs: Seq[Future[T]]): Seq[T] =
      Await.result(Future.sequence(fs), 10.minutes)
    val cat = freshCatalog()
    val fresh = freshCatalog()
    try {
      // each query memoizes its result and its cut-keyed dense domain, so
      // 150 of them pass the cap
      val qs = (1 to 150).map(k => CubeQuery("orders",
        Seq(LevelDrill(LevelRef("Geography", Some("Customer")))),
        Seq("total_sales"),
        cuts = Seq(MemberCut(LevelRef("Geography", Some("Customer")), k)),
        nonempty = false))
      def answer(c: CubeCatalog, q: CubeQuery) = c.cachedResult(q) {
        val df = Planner.plan(c, q)
        (df.collect().toSeq, df.columns.toSeq)
      }
      val first = all(qs.map(q => Future(answer(cat, q))))
      assert(cat.memoSize == CubeCatalog.MaxMemoEntries)
      // the evicted early queries recompute to the same answer
      assert(qs.take(20).map(answer(cat, _)) == first.take(20))
      assert(all(qs.map(q => Future(answer(fresh, q)))) == first)
    } finally { cat.close(); fresh.close(); pool.shutdown() }
  }

  test("a closed catalog releases what it computes instead of keeping it") {
    val cat = freshCatalog()
    cat.close()
    val computes = new AtomicInteger(0)
    def probe() = cat.memo(CubeCatalog.MemberFrame)(("sales", "__closed",
        false)) {
      computes.incrementAndGet()
      spark.range(1000, 1001).toDF("id").persist()
    }
    val df = probe()
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1000L))
    assert(df.storageLevel == StorageLevel.NONE)
    assert(cat.memoSize == 0)
    probe()
    assert(computes.get == 2)
  }
}
