package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.Pipeline
import graft.model.DedupConfig
import graft.runtime.RunContext

/**
 * One benchmark run in one JVM: Spark session, a warm-up `Pipeline.run` on
 * a small corpus, then whole timed rounds of `Pipeline.run` over the input
 * corpus until the time budget is spent. Each round runs in a fresh run dir
 * and is timed up to the count of its cluster table.
 *
 * Usage: PerfRun <corpus dir> <warm-up corpus dir> <work dir> <seconds>
 *                <min rounds> <trace 0|1> <result json> <spans json>
 *
 * The result file carries, per round: wall and process CPU seconds, bytes
 * of stage checkpoints left in the run dir, and (traced runs) the per-stage
 * figures [[StageTrace]] collects. Only each round's `snapshot` and
 * `clusters` stage outputs are kept, for the checks made outside the JVM.
 */
object PerfRun {
  def main(args: Array[String]): Unit = {
    val Array(corpusDir, warmDir, workDir, secondsS, minRoundsS, traceS, resultPath, spansPath) = args
    val seconds = secondsS.toDouble
    val minRounds = minRoundsS.toInt
    val traced = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(jvmStartMs)
    val threads = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (4 * threads).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    spans.add("session", "setup", jvmStartMs, System.currentTimeMillis())
    // the listener is attached only in traced runs: untraced runs time the
    // program alone
    val trace = if (traced) Some(new StageTrace(spark)) else None
    trace.foreach(sc.addSparkListener)

    val out = new Json
    try {
      // Warm-up: JIT, codegen and shuffle paths, in a run dir of its own.
      val w0 = System.currentTimeMillis()
      val warmCtx = RunContext(spark, s"$workDir/warmup")
      Pipeline.run(warmCtx, spark.read.parquet(warmDir), DedupConfig()).clusters.count()
      warmCtx.cleanup()
      deleteTree(new File(s"$workDir/warmup"))
      spans.add("warmup", "setup", w0, System.currentTimeMillis())

      val corpus = spark.read.parquet(corpusDir)
      val nRows = corpus.count()
      trace.foreach(_.drain()) // no warm-up event may reach the first round
      System.gc()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      spans.add("setup", "run", jvmStartMs, System.currentTimeMillis())

      val osBean = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val rounds = mutable.ArrayBuffer.empty[String]
      var attempted, failed = 0
      var measured = 0.0
      while (attempted < minRounds || measured < seconds) {
        val k = attempted
        val runDir = s"$workDir/rounds/r$k"
        attempted += 1
        trace.foreach(_.begin())
        // RunContext.stage labels jobs on the calling thread and never
        // clears the label; without this reset the timed run's unlabelled
        // jobs would be charged to the last stage of the previous run.
        sc.setJobDescription(null)
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val m0 = System.currentTimeMillis()
        val rec = new Json
        val ctx = RunContext(spark, runDir)
        try {
          val res = Pipeline.run(ctx, corpus, DedupConfig())
          res.clusters.count()
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
          spans.add(s"round$k", "measure", m0, System.currentTimeMillis())
          measured += wall
          sc.setJobDescription(null)
          trace.foreach { t =>
            t.drain()
            t.end()
            t.spans(s"round$k").foreach(spans.add)
            val metricRows = res.metrics.collect().map { r =>
              (r.getAs[String]("stage"), r.getAs[Int]("partition_id"), r.getAs[Long]("rows"))
            }
            rec.obj("stages", t.stageMetrics(metricRows))
          }
          rec.num("wall_s", wall).num("cpu_s", cpu)
            .num("checkpoint_bytes", treeBytes(new File(runDir)).toDouble)
            .str("run_dir", runDir).bool("ok", true)
        } catch {
          case e: Exception =>
            failed += 1
            measured += (System.nanoTime() - t0) / 1e9
            trace.foreach { t => t.drain(); t.end() }
            System.err.println(s"[perfbench] round $k failed: $e")
            e.printStackTrace()
            rec.str("error", e.toString).bool("ok", false)
        } finally ctx.cleanup()
        // keep the outputs the checks read; drop the rest of the run dir
        Option(new File(runDir).listFiles()).getOrElse(Array.empty[File])
          .filterNot(f => f.getName == "snapshot" || f.getName == "clusters")
          .foreach(deleteTree)
        rounds += rec.render
        System.gc()
      }
      out.num("setup_s", setupS).num("input_rows", nRows.toDouble)
        .num("attempted", attempted.toDouble).num("failed", failed.toDouble)
        .raw("rounds", rounds.mkString("[", ",", "]"))
    } finally {
      spark.stop()
    }
    out.num("peak_rss_mb", vmHwmKb() / 1024.0)
    Files.write(Paths.get(resultPath), out.render.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(spansPath), spans.render.getBytes(StandardCharsets.UTF_8))
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }

  /** Peak resident set of this JVM (`VmHWM`, kB). */
  def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** Named time spans (ms since JVM start) kept in memory, written at the end. */
class Spans(origin: Long) {
  private val buf = mutable.ArrayBuffer.empty[String]
  def add(name: String, parent: String, start: Long, end: Long): Unit = synchronized {
    buf += new Json().str("name", name).str("parent", parent)
      .num("start_ms", (start - origin).toDouble).num("end_ms", (end - origin).toDouble).render
  }
  def add(s: (String, String, Long, Long)): Unit = add(s._1, s._2, s._3, s._4)
  def render: String = synchronized(buf.mkString("[\n", ",\n", "\n]\n"))
}

/** Minimal JSON object builder (keys in insertion order). */
class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def raw(k: String, v: String): Json = { fields += s"${q(k)}: $v"; this }
  def str(k: String, v: String): Json = raw(k, q(v))
  def num(k: String, v: Double): Json =
    raw(k, if (v.isNaN || v.isInfinite) "null" else v.toString)
  def bool(k: String, v: Boolean): Json = raw(k, v.toString)
  def obj(k: String, m: collection.Map[String, Double]): Json = {
    val j = new Json
    m.toSeq.sortBy(_._1).foreach { case (a, b) => j.num(a, b) }
    raw(k, j.render)
  }
  def render: String = fields.mkString("{", ", ", "}")
}

/**
 * Per-stage figures of one `Pipeline.run`, collected by a listener attached
 * from outside the program. Jobs are attributed by the `graft:<stage>` job
 * description that `RunContext.stage` sets; a job with no `graft:` label in
 * the timed run belongs to the uniq pass (the corpus count and the shared
 * representative cache fill). [[drain]] runs a marker job and waits for its
 * end event, so every event of the jobs before it has been seen.
 */
class StageTrace(spark: SparkSession) extends SparkListener {
  val Stages = Seq("snapshot", "uniq", "signatures", "candidates", "near_pairs",
    "substring_pairs", "clusters")

  private case class Job(label: String, start: Long, var end: Long)
  private case class Task(stageId: Int, runMs: Long, durMs: Long, shuffleWrite: Long,
                          spill: Long, written: Long)

  private var recording = false
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageOf = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[Task]]
  private val markerJobs = mutable.Map.empty[Int, String]
  private var markersSeen = Set.empty[String]
  private var nMarkers = 0

  private def labelOf(props: java.util.Properties): String = {
    val d = Option(props).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (d.startsWith("perfbench:marker")) d
    else if (d.startsWith("graft:")) d.stripPrefix("graft:")
    else "uniq"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = labelOf(e.properties)
    if (label.startsWith("perfbench:")) markerJobs(e.jobId) = label
    else if (recording) {
      jobs(e.jobId) = Job(label, e.time, e.time)
      e.stageIds.foreach(s => if (!stageOf.contains(s)) stageOf(s) = label)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    markersSeen ++= markerJobs.remove(e.jobId)
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOf.get(e.stageId).foreach { label =>
      val m = e.taskMetrics
      val info = e.taskInfo
      val t =
        if (m == null) Task(e.stageId, 0L, info.duration, 0L, 0L, 0L)
        else Task(e.stageId, m.executorRunTime, info.duration,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.outputMetrics.recordsWritten)
      tasks.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += t
    }
  }

  def begin(): Unit = synchronized {
    jobs.clear(); stageOf.clear(); tasks.clear(); recording = true
  }
  def end(): Unit = synchronized { recording = false }

  /** Run a marker job and block until the listener has seen it end. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val name = synchronized { nMarkers += 1; s"perfbench:marker:$nMarkers" }
    sc.setJobDescription(name)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 60000L
    synchronized {
      while (!markersSeen.contains(name) && System.currentTimeMillis() < deadline)
        wait(100L)
    }
  }

  /** Spans of the labelled stages of the last round: (name, parent, start, end). */
  def spans(parent: String): Seq[(String, String, Long, Long)] = synchronized {
    jobs.values.groupBy(_.label).toSeq.sortBy(_._1).map { case (label, js) =>
      (s"stage.$label", parent, js.map(_.start).min, js.map(_.end).max)
    }
  }

  /** The seven figures of every stage, plus the skew-drop figures read from
   *  the `Result.metrics` rows `(stage, partition_id, rows)`. */
  def stageMetrics(metricRows: Seq[(String, Int, Long)]): Map[String, Double] = synchronized {
    val mb = 1024.0 * 1024.0
    def metricRow(name: String): Double =
      metricRows.collect { case (`name`, -1, n) => n.toDouble }.sum
    val perStage = Stages.flatMap { s =>
      val js = jobs.values.filter(_.label == s)
      val ts = tasks.getOrElse(s, mutable.ArrayBuffer.empty[Task])
      val wall = if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min) / 1e3
      // skew of the Spark stage that carries most of this stage's task time
      val skew = if (ts.isEmpty) 1.0 else {
        val top = ts.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
        val d = top.map(t => math.max(1L, t.durMs)).sorted
        d.last.toDouble / d(d.length / 2)
      }
      val rowsOut =
        if (s == "uniq") metricRows.collect { case ("uniq", p, n) if p >= 0 => n.toDouble }.sum
        else ts.map(_.written).sum.toDouble
      Seq(
        s"stage.$s.wall_s" -> wall,
        s"stage.$s.task_s" -> ts.map(_.runMs).sum / 1e3,
        s"stage.$s.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
        s"stage.$s.spill_mb" -> ts.map(_.spill).sum / mb,
        s"stage.$s.skew" -> skew,
        s"stage.$s.jobs" -> js.size.toDouble,
        s"stage.$s.rows_out" -> rowsOut)
    }.toMap
    val cand = perStage("stage.candidates.rows_out")
    perStage ++ Map(
      "near.verify_yield" -> (if (cand > 0) perStage("stage.near_pairs.rows_out") / cand else 0.0),
      "near.dropped_bucket_rows" -> metricRow("candidates.dropped_members"),
      "substring.dropped_gram_rows" -> metricRow("substring_pairs.dropped_gram_rows"))
  }
}
