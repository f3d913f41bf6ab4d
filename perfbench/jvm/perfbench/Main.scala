package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the run record. */
object Json {
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
}

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload W --data DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --cores N
  *
  * Sets the workload up [[Main.Setups]] times on fresh storage roots
  * (set-up time is their median), warms each measured root up with the
  * workload's warm-up steps, then measures steps until S seconds have
  * passed. With `--trace 1` it measures twice, one root each: traced
  * for S seconds, then untraced over the same number of steps; the span
  * record's overhead is the traced time over the untraced one. Output
  * checks run after each measurement.
  * Before the JVM ends it removes its storage roots and stops Spark, so
  * anything left under DIR besides the inputs and FILE is a leak. The
  * raw record (samples, spans, jobs, counters, checks) goes to FILE as
  * JSON; `run.py` turns it into metrics. */
object Main {
  import Json._

  /** Set-ups per run; an untraced run measures on the last root, a
    * traced run on the last two, one per phase. */
  val Setups = 3

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def nonDaemonThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && !t.isDaemon)

  private def peakRssKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  private def liveBytes(w: Workload): Long =
    w.liveFiles().distinct.map(f => dirBytes(new java.net.URI(f).getPath)).sum

  private def phase(spark: SparkSession, w: Workload, root: String,
                    traced: Boolean, seconds: Double,
                    steps: Option[Int]): (Int, String) = {
    val sc = spark.sparkContext
    val threads = ManagementFactory.getThreadMXBean
    val listener = new JobListener
    var error: Option[Throwable] = None
    try {
      (0 until w.warmup).foreach(w.step)
    } catch { case e: Throwable => error = Some(e) }
    w.ops.samples.clear()
    w.rows = 0L
    w.inputBytes = 0L
    if (traced) sc.addSparkListener(listener)
    val gc0 = gcMs()
    val th0 = threads.getThreadCount
    val fs0 = Recorder.fsBytesWritten()
    if (traced) Recorder.start(sc)
    val t0 = System.nanoTime()
    var paused = 0L
    def since(t: Long) = (System.nanoTime() - t - paused) / 1e9
    var window = t0
    var n = 0
    // write and space amplification are taken after the first two
    // measured steps, a fixed amount of work, so they do not depend on how
    // many steps fit
    var amp = Seq.empty[(String, String)]
    var rowsS = 0.0
    var stepRows = 0L
    // at least two steps inside the window, so every run has a sample
    def more = n < w.windowFrom + 2 || since(window) < seconds
    try {
      var going = error.isEmpty
      while (going && steps.fold(more)(n < _)) {
        val s0 = System.nanoTime()
        val rows0 = w.rows
        going = w.step(w.warmup + n)
        if (going) {
          if (w.rows > rows0) rowsS += (System.nanoTime() - s0) / 1e9
          n += 1
          if (n == w.windowFrom) window = System.nanoTime()
          if (n == 2) {
            val p0 = System.nanoTime()
            amp = Seq(
              "bytes_written" -> (Recorder.fsBytesWritten() - fs0).toString,
              "input_bytes" -> w.inputBytes.toString,
              "storage_bytes" -> dirBytes(root).toString,
              "live_bytes" -> liveBytes(w).toString)
            paused += System.nanoTime() - p0
          }
        }
      }
      stepRows = w.rows
      if (error.isEmpty) w.finish()
    } catch { case e: Throwable => error = Some(e) }
    val measured = since(t0)
    val spans = if (traced) Recorder.stop() else Nil
    val gc = gcMs() - gc0
    val threadsDelta = threads.getThreadCount - th0
    org.apache.spark.BusDrain(sc)
    val jobs = listener.snapshot()
    if (traced) sc.removeSparkListener(listener)
    error.foreach(_.printStackTrace())
    val c0 = System.nanoTime()
    val checks =
      if (error.nonEmpty) Seq(Check("phase", ok = false, error.get.toString))
      else try w.checks() catch {
        case e: Throwable =>
          e.printStackTrace()
          Seq(Check("checks", ok = false, e.toString))
      }
    val fields = Seq(
      "traced" -> traced.toString,
      "steps" -> n.toString,
      "measured_s" -> num(measured),
      "rows_s" -> num(rowsS),
      "rows" -> stepRows.toString,
      "attempted" -> w.ops.attempted.toString,
      "failed" -> w.ops.failed.toString,
      "samples" -> obj(w.ops.samples.map { case (k, v) => k -> arr(v.map(num)) }),
      "amp" -> obj(amp),
      "gc_ms" -> gc.toString,
      "threads_delta" -> threadsDelta.toString,
      "counters" -> obj(w.counters().map { case (k, v) => k -> num(v) }),
      "extra" -> obj(w.extra()),
      "checks_s" -> num((System.nanoTime() - c0) / 1e9),
      "checks" -> arr(checks.map(c => obj(Seq("name" -> q(c.name),
        "ok" -> c.ok.toString, "detail" -> q(c.detail))))),
      "spans" -> arr(spans.map(s => arr(Seq(s.id.toString, s.parent.toString,
        q(s.name), s.startUs.toString, s.endUs.toString, s.fsBytes.toString)))),
      "jobs" -> arr(jobs.map(j => arr(Seq(j.jobId, j.span, j.startMs, j.endMs,
        j.execMs, j.outBytes, j.shuffleBytes, j.spillBytes).map(_.toString)))))
    (n, obj(fields))
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val nonDaemon0 = nonDaemonThreads()

    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val made = (1 to Setups).map { i =>
      val root = s"$work/storage/s$i"
      val w = Workload(name, spark, data, root)
      val t0 = System.nanoTime()
      w.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      (w, root)
    }
    // One root per measured phase; the rest only timed their set-up. A
    // traced run measures traced for the seconds given, then untraced
    // over the same steps with the same JVM warmth.
    val used = made.takeRight(if (traced) 2 else 1)
    made.dropRight(used.size).foreach { case (w, root) =>
      w.close()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    val (steps, first) = phase(spark, used.head._1, used.head._2,
      traced, seconds, None)
    val phases = first +: used.tail.map { case (w, root) =>
      phase(spark, w, root, traced = false, seconds, Some(steps))._2
    }
    used.foreach(_._1.close())

    val leakedStreams = spark.streams.active.length
    spark.streams.active.foreach(_.stop())
    val nonDaemonDelta = nonDaemonThreads() - nonDaemon0
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/storage"))
    spark.stop()
    val record = obj(Seq(
      "workload" -> q(name),
      "cores" -> cores.toString,
      "session_s" -> num(sessionS),
      "setup_s" -> arr(setupS.map(num)),
      "phases" -> arr(phases),
      "streams_leaked" -> leakedStreams.toString,
      "nondaemon_threads_delta" -> nonDaemonDelta.toString,
      "peak_rss_kb" -> peakRssKb().toString))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      record.getBytes("UTF-8"))
    // the shutdown hooks remove Spark's own temporary directories
    sys.exit(0)
  }
}
