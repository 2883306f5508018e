package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a request delivered, summarised outside the timed interval:
  * `items` work items completed (rows, query vectors, documents),
  * `digest` a JSON array the checker compares with ground truth, and
  * `routable` whether the request is a plain plan a routing rule serves. */
final case class Rec(items: Long, digest: String, routable: Boolean = false)

/** One workload: a cold build, a warm-up and a request stream. `execute`
  * is the timed part of request `r`; `record` summarises its output and
  * runs untimed. */
trait Workload {
  def setup(root: String): Unit
  /** Runs the first `n` requests untimed. */
  def warmup(n: Int): Unit
  def size: Int
  def kind(r: Int): String
  def execute(r: Int): Any
  def record(r: Int, out: Any): Rec
  /** Directories whose scans count as reading an index. */
  def indexPaths: Seq[String]
  /** Bytes written to storage since the last set-up began (set-up builds
    * and request outputs). */
  def bytesWritten: Long
  /** User bytes the run took in: the inputs the set-up loaded, or the
    * batches the passes processed. */
  def userBytes: Long
}

/** Benchmark driver: one workload in one fresh JVM.
  *
  * Sets up [[Setups]] times, each a cold build into a fresh root
  * (the routing registries, the derived-table memo and the resident graphs
  * are JVM-global, so only the last root serves requests), then drives a
  * closed loop with one client thread for `--seconds`. With `--trace 1`
  * the loop runs an untraced window and then a traced window of half the
  * length each; the first gives the tracing overhead, the second the spans
  * and listener counters.
  */
object Main {
  /** Cold set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Warm-up requests at the end of each set-up. */
  val WarmupRequests = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // one client's requests are latency-bound; two worker threads leave
    // the other cores to JIT and GC
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = graft.engine.Graft.session("perfbench", s"local[$cores]", cores)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    try run(spark, a("workload"), a("inputs"), out, a("seconds").toDouble, a("trace") == "1")
    finally spark.stop()
  }

  def workload(spark: SparkSession, name: String, in: String, out: Path): Workload = name match {
    case "lookup" => new LookupWorkload(spark, in)
    case "ann" => new AnnWorkload(spark, in)
    case "curate" => new CurateWorkload(spark, in, out)
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => " "; case c => c.toString
  }

  def run(spark: SparkSession, name: String, in: String, out: Path,
          seconds: Double, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    val w = workload(spark, name, in, out)
    val setupS = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      w.setup(out.resolve("store").resolve(s"setup-$k").toString)
      w.warmup(WarmupRequests)
      (System.nanoTime() - t0) / 1e9
    }
    val jobs = new JobProbe
    val plans = new PlanProbe(() => w.indexPaths)
    val lines = new java.lang.StringBuilder
    var next = 0

    /** Closed loop for `secs`; returns (requests, elapsed s, gc ms). */
    def window(label: String, secs: Double, traced: Boolean): (Int, Double, Long) = {
      Trace.on = traced
      Trace.active = traced
      val gc0 = gcMs()
      val start = System.nanoTime()
      var n = 0
      while (System.nanoTime() - start < secs * 1e9) {
        val r = next % w.size
        sc.setLocalProperty(JobProbe.ReqProp, next.toString)
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res =
          try Right(Trace.inRequest(next)(w.execute(r)))
          catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val wall1 = System.currentTimeMillis()
        Trace.on = false
        sc.setLocalProperty(JobProbe.ReqProp, null)
        val sb = new StringBuilder
        sb ++= s"""{"seq":$next,"req":$r,"window":"$label","kind":"${w.kind(r)}","ms":$ms"""
        if (traced) {
          JobProbe.drain(sc)
          val js = jobs.jobsOf(next)
          val ivs = js.filter(_.end >= 0).map(j => (j.start, j.end))
          val scans = plans.take()
          sb ++= s""","jobs":${js.size},"job_ms":${ivs.map(i => i._2 - i._1).sum}"""
          sb ++= s""","task_ms":${js.map(_.taskMs).sum},"shuffle_bytes":${js.map(_.shuffleBytes).sum}"""
          sb ++= s""","nonjob_ms":${(wall1 - wall0) - JobProbe.unionMs(ivs, wall0, wall1)}"""
          sb ++= s""","files_read":${scans.map(_.filesRead).sum},"files_listed":${scans.map(_.filesListed).sum}"""
          sb ++= s""","rows_scanned":${scans.map(_.rowsScanned).sum},"reads_index":${scans.exists(_.readsIndex)}"""
        }
        val rec = res.flatMap(o =>
          try Right(w.record(r, o)) catch { case e: Throwable => Left(e) })
        rec match {
          case Right(x) =>
            sb ++= s""","items":${x.items},"digest":${x.digest},"routable":${x.routable}"""
          case Left(e) =>
            sb ++= s""","error":"${esc(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))}""""
        }
        if (traced) {
          JobProbe.drain(sc)
          plans.take()
        }
        sb ++= "}\n"
        lines.append(sb.toString)
        Trace.on = traced
        next += 1
        n += 1
      }
      Trace.on = false
      Trace.active = false
      (n, (System.nanoTime() - start) / 1e9, gcMs() - gc0)
    }

    val windows =
      if (!trace) Seq("measure" -> window("measure", seconds, traced = false))
      else {
        sc.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        JobProbe.drain(sc)
        jobs.clear(); plans.take(); Trace.reset()
        Seq("untraced" -> window("untraced", seconds / 2, traced = false),
          "traced" -> window("traced", seconds / 2, traced = true))
      }
    Files.writeString(out.resolve("results.jsonl"), lines.toString)
    if (trace) Trace.writeSpans(out.resolve("spans.jsonl"))
    val win = windows.map { case (k, (n, secs, gc)) =>
      s""""$k":{"requests":$n,"seconds":$secs,"gc_ms":$gc}""" }.mkString(",")
    val setupLayers = Trace.setupMs.map(_.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")).mkString("[", ",", "]")
    val ctr = Trace.counterMap.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    Files.writeString(out.resolve("summary.json"),
      s"""{"setup_s":[${setupS.mkString(",")}],"setup_layers":$setupLayers,"windows":{$win},""" +
        s""""peak_rss_mb":${peakRssMb()},"bytes_written":${w.bytesWritten},""" +
        s""""user_bytes":${w.userBytes},"counters":{$ctr}}""" + "\n")
  }
}
