package perfbench

import org.apache.spark.sql.SparkSession

/** Harness self-test of the listener attribution: two requests run jobs at
  * the same time from two threads, one of them with a shuffle (two stages),
  * and every task must be credited to its own request's job with a
  * non-negative duration. Exits non-zero on the first wrong figure.
  *
  *     java -cp <classes>:<spark jars>/'*' perfbench.SelfTest
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    check(JobProbe.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 40L) == 25L, "union of intervals")
    check(JobProbe.unionMs(Seq((0L, 10L)), 5L, 8L) == 3L, "union clipped to the request")

    val spark = SparkSession.builder().master("local[4]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    val sc = spark.sparkContext
    try {
      val probe = new JobProbe
      sc.addSparkListener(probe)
      val gate = new java.util.concurrent.CountDownLatch(2)
      def job(req: Long)(body: => Unit): Thread = {
        val t = new Thread(() => {
          sc.setLocalProperty(JobProbe.ReqProp, req.toString)
          gate.countDown()
          gate.await()
          body
        })
        t.start()
        t
      }
      val a = job(1L) {
        sc.parallelize(1 to 8, 8).map { i => Thread.sleep(300); i }.count()
      }
      val b = job(2L) {
        sc.parallelize(1 to 6, 3).map { i => Thread.sleep(150); (i % 2, i) }
          .reduceByKey(_ + _, 2).count()
      }
      a.join(); b.join()
      JobProbe.drain(sc)
      val ja = probe.jobsOf(1L)
      val jb = probe.jobsOf(2L)
      check(ja.size == 1 && jb.size == 1, s"one job per request, got ${ja.size} and ${jb.size}")
      check(ja.head.tasks == 8, s"request 1 ran 8 tasks, credited ${ja.head.tasks}")
      check(jb.head.tasks == 5, s"request 2 ran 3 + 2 tasks, credited ${jb.head.tasks}")
      check(jb.head.shuffleBytes > 0, "request 2 wrote shuffle bytes")
      check(ja.head.shuffleBytes == 0, "request 1 wrote no shuffle bytes")
      (ja ++ jb).foreach(j => check(j.end >= j.start, s"job ${j.id} ends before it starts"))
      check(ja.head.start < jb.head.end && jb.head.start < ja.head.end, "the two jobs overlapped")
      check(ja.head.taskMs >= 8 * 250, s"request 1 task time ${ja.head.taskMs} ms")
      println("selftest ok")
    } finally spark.stop()
  }
}
