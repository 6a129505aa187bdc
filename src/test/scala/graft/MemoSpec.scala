package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.util.SessionMemo

/** Specs for [[SessionMemo]], graft's one memo mechanism: one build per
  * (session, key) even under a racing first call, a session of its own
  * per `newSession()`, eviction of exactly the ended session from every
  * family, and builds that nest across families.
  *
  * Eviction is driven by calling what the session's end listener runs;
  * the shared test context is never stopped, and the evicted sessions
  * are fresh `newSession()`s so no other suite's entries are touched.
  */
class MemoSpec extends SparkSpec {

  private def counted(builds: AtomicInteger, v: Int): Int = {
    builds.incrementAndGet()
    v
  }

  test("one build per (session, key), also when two driver threads race the first call") {
    val memo = new SessionMemo[Long]("specRace")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new Callable[Long] {
          def call(): Long = {
            start.await()
            memo(spark, "k") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the other thread arrives
              spark.range(10).localCheckpoint(eager = true).count()
            }
          }
        })
      }
      start.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) === Seq(10L, 10L))
    } finally pool.shutdown()
    assert(builds.get === 1)
    assert(memo(spark, "k")(-1L) === 10L)
    assert(builds.get === 1)
    assert(memo(spark, "k2")(counted(builds, 7).toLong) === 7L)
    assert(builds.get === 2)
  }

  test("a session from newSession() builds its own entry") {
    val memo = new SessionMemo[Int]("specNewSession")
    val builds = new AtomicInteger
    val other = spark.newSession()
    assert(memo(spark, "k")(counted(builds, 1)) === 1)
    assert(memo(other, "k")(counted(builds, 2)) === 2)
    assert(memo(spark, "k")(counted(builds, 3)) === 1)
    assert(memo(other, "k")(counted(builds, 4)) === 2)
    assert(builds.get === 2)
  }

  test("eviction drops the ended session from every family and keeps other sessions") {
    val a = new SessionMemo[Int]("specEvictA")
    val b = new SessionMemo[Int]("specEvictB")
    val builds = new AtomicInteger
    val ended = spark.newSession()
    val live = spark.newSession()
    a(ended, "k")(counted(builds, 1))
    b(ended, "k")(counted(builds, 2))
    a(live, "k")(counted(builds, 3))
    b(live, "k")(counted(builds, 4))
    assert(builds.get === 4)

    SessionMemo.evict(ended)

    assert(a(live, "k")(counted(builds, 0)) === 3)
    assert(b(live, "k")(counted(builds, 0)) === 4)
    assert(builds.get === 4)
    assert(a(ended, "k")(counted(builds, 5)) === 5)
    assert(b(ended, "k")(counted(builds, 6)) === 6)
    assert(builds.get === 6)
  }

  test("a build that calls another family's memo returns normally") {
    val inner = new SessionMemo[Int]("specInner")
    val outer = new SessionMemo[Int]("specOuter")
    val builds = new AtomicInteger
    // the lpaLabelsOf -> tradeRelWOf shape: a nested computeIfAbsent on
    // ONE shared map would throw "Recursive update"
    def innerOf(key: String): Int = inner(spark, key)(counted(builds, 20))
    def outerOf(key: String): Int = outer(spark, key)(innerOf(key) + counted(builds, 1))
    assert(outerOf("k") === 21)
    assert(innerOf("k") === 20)
    assert(outerOf("k") === 21)
    assert(builds.get === 2)
  }
}
