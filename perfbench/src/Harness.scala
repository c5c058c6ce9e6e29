package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** Closed-loop benchmark client. One JVM, Spark `local[4]`, one caller:
  * each op is sent after the previous one returns. Reads the op list
  * written by `run.py`, times every op once (a traced run also times
  * each read untraced, see `execute`), and writes raw per-op records
  * for `run.py` to check and summarise.
  *
  * Usage: Harness --workload triple|analytics --ops <ops.jsonl>
  *   --out <dir> --seconds <n> --trace 0|1 --corpus <dir> --cache <dir>
  */
object Harness {
  val mapper = new ObjectMapper()
  val SetupReps = 3

  final case class Conf(workload: String, ops: String, out: String,
      seconds: Int, trace: Boolean, corpus: String, cache: String)

  /** What the op left for the checker, plus its timing. A twin is the
    * untraced execution of an op that a traced run also executes traced.
    */
  final class OpRecord(val id: Int, val kind: String, val traced: Boolean, val twin: Boolean) {
    var ms = 0.0
    var startNs = 0L
    var endNs = 0L
    var gcMs = 0L
    var storageBytes = 0L
    val out = new JMap[String, Any]()
    var buildEndMs = 0L
    var plan: SparkPlan = null
  }

  /** Handle passed to workloads: span recording and timed op phases. */
  final class Ctx(val spark: SparkSession, val tracer: Tracer) {
    var rec: OpRecord = null

    /** Plan then collect `df`; the plan is kept for scan metrics. */
    def collect(df: DataFrame): Array[Row] = {
      rec.buildEndMs = System.currentTimeMillis()
      val plan = tracer.span("spark.plan")(df.queryExecution.executedPlan)
      rec.plan = plan
      tracer.span("spark.exec")(df.collect())
    }
  }

  trait Workload {
    /** One-time preparation, cached across runs; outside set-up. */
    def needsPrepare: Boolean = false
    def prepare(spark: SparkSession): Unit = ()
    /** Everything between session start and the first timed op. */
    def setup(ctx: Ctx, rep: Int): Unit
    def run(ctx: Ctx, op: JsonNode): Unit
    /** After an op, outside its timing: checks that need a Spark job. */
    def after(ctx: Ctx, op: JsonNode): Unit = ()
    /** Whether an op runs faster right after an execution of itself. */
    def warmPairs: Boolean = false
    /** Extra traced-only measurements, outside the op's timing. */
    def traceExtra(ctx: Ctx, op: JsonNode): Unit = ()
    /** After the timed window: writes the checker needs. */
    def finish(spark: SparkSession): Unit = ()
    def stamps(spark: SparkSession): JMap[String, Any] = new JMap[String, Any]()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val conf = Conf(a("workload"), a("ops"), a("out"), a("seconds").toInt,
      a("trace") == "1", a("corpus"), a("cache"))
    val lines = scala.io.Source.fromFile(conf.ops, "UTF-8").getLines().toVector
    val header = mapper.readTree(lines.head)
    val ops = lines.tail.map(mapper.readTree)
    new File(conf.out).mkdirs()
    val work = Paths.get(conf.out, "work")

    val workload: Workload = conf.workload match {
      case "triple" => new TripleWorkload(conf, header, work)
      case "analytics" => new AnalyticsWorkload(conf, header)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    if (a.get("prepare").contains("1")) {
      // a JVM of its own, so that every measured run starts equally cold
      if (workload.needsPrepare) {
        val s = newSession(conf)
        workload.prepare(s)
        s.stop()
      }
      return
    }
    val tracer = new Tracer
    var spark: SparkSession = null
    // Set-up is repeated in fresh sessions; the median is reported.
    val setupMs = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(conf)
      workload.setup(new Ctx(spark, tracer), rep)
      (System.nanoTime() - t0) / 1e6
    }
    val ctx = new Ctx(spark, tracer)
    // Warm-up ops (JIT, codegen caches) are run but never recorded.
    def warm(op: JsonNode): Unit = {
      ctx.rec = new OpRecord(-1, "warmup", false, false)
      tracer.begin(-1, traced = false)
      workload.run(ctx, op)
    }
    header.path("warmup").elements().asScala.foreach(warm)
    val sc = spark.sparkContext
    val listener = new CountingListener
    val repeatable = header.path("repeatable").elements().asScala.map(_.asText()).toSet

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val records = mutable.ArrayBuffer.empty[OpRecord]

    /** Time one execution of `op`. A traced execution records spans and
      * has the listener attached and the op's job group set; an untraced
      * one has neither.
      */
    def execute(op: JsonNode, traced: Boolean, twin: Boolean): Unit = {
      val rec = new OpRecord(op.get("id").asInt(), op.get("kind").asText(), traced, twin)
      ctx.rec = rec
      tracer.begin(rec.id, traced)
      if (traced) {
        sc.addSparkListener(listener)
        sc.setJobGroup(s"op-${rec.id}", rec.kind)
      }
      val gc0 = gcMs
      rec.startNs = System.nanoTime()
      try tracer.span("op")(workload.run(ctx, op))
      catch { case e: Exception => rec.out.put("error", e.toString) }
      rec.endNs = System.nanoTime()
      rec.ms = (rec.endNs - rec.startNs) / 1e6
      if (traced) {
        sc.clearJobGroup()
        rec.gcMs = gcMs - gc0
        rec.storageBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        // every event of the op reaches the listener before it is detached
        org.apache.spark.PerfbenchListenerBus.waitUntilEmpty(sc)
        sc.removeSparkListener(listener)
        try workload.traceExtra(ctx, op)
        catch { case e: Exception => rec.out.put("trace_error", e.toString) }
      }
      try workload.after(ctx, op)
      catch { case e: Exception => rec.out.put("error", e.toString) }
      records += rec
    }

    // The window runs whole cycles of the op list (each kind at least
    // once) and at least --seconds.
    val cycle = header.get("cycle").asInt()
    val cpu0 = cpuTicks
    val windowStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - windowStart) / 1e9
    var i = 0
    var pairs = 0
    while (i < ops.size && (elapsedS < conf.seconds || i % cycle != 0)) {
      val op = ops(i)
      if (conf.trace && repeatable(op.get("kind").asText())) {
        // An op that leaves the state unchanged also runs untraced, as the
        // twin the tracing overhead is measured against, in alternating
        // order; an untimed execution comes first for workloads whose ops
        // run faster right after themselves.
        if (workload.warmPairs) warm(op)
        val twinFirst = pairs % 2 == 1
        pairs += 1
        if (twinFirst) execute(op, traced = false, twin = true)
        execute(op, traced = true, twin = false)
        if (!twinFirst) execute(op, traced = false, twin = true)
      } else execute(op, traced = conf.trace, twin = false)
      i += 1
    }
    val windowS = elapsedS
    val cpu1 = cpuTicks
    workload.finish(spark)
    val stamps = workload.stamps(spark)
    spark.stop()

    val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val out = new PrintWriter(new File(conf.out, "ops.out.jsonl"), "UTF-8")
    records.foreach { r =>
      val m = new JMap[String, Any]()
      m.put("id", r.id); m.put("kind", r.kind); m.put("ms", r.ms)
      m.put("traced", r.traced); m.put("twin", r.twin)
      m.putAll(r.out)
      if (r.traced) m.put("trace", traceOf(r, tracer, listener, wallOffsetMs))
      out.println(mapper.writeValueAsString(m))
    }
    out.close()
    if (conf.trace) {
      val sp = new PrintWriter(new File(conf.out, "spans.jsonl"), "UTF-8")
      tracer.spans.foreach { s =>
        sp.println(mapper.writeValueAsString(Map[String, Any]("id" -> s.id,
          "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> (s.startNs - windowStart) / 1e6,
          "end_ms" -> (s.endNs - windowStart) / 1e6).asJava))
      }
      sp.close()
    }
    val summary = new JMap[String, Any]()
    summary.put("setup_ms", setupMs.asJava)
    summary.put("window_s", windowS)
    summary.put("ops_run", records.size)
    summary.put("ops_available", ops.size)
    summary.put("peak_rss_mb", peakRssMb)
    summary.put("spark_version", org.apache.spark.SPARK_VERSION)
    summary.put("jvm_version", System.getProperty("java.runtime.version"))
    summary.put("nproc", Runtime.getRuntime.availableProcessors())
    // Share of the host's CPU time stolen by the hypervisor during the
    // window: a busy host slows every op of a run alike.
    summary.put("cpu_steal_share",
      (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1))
    summary.put("stamps", stamps)
    Files.writeString(Paths.get(conf.out, "summary.json"), mapper.writeValueAsString(summary))
  }

  def newSession(conf: Conf): SparkSession = {
    val local = new File(conf.out, "spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(conf.out, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (all, steal) CPU ticks of the host since boot, from /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** VmHWM of this JVM in MB (the resident-set high-water mark). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private def traceOf(r: OpRecord, tracer: Tracer, l: CountingListener,
      wallOffsetMs: Long): JMap[String, Any] = {
    val t = new JMap[String, Any]()
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    tracer.spans.iterator.filter(_.op == r.id).foreach { s =>
      self(s.name) += tracer.selfMs(s)
    }
    t.put("self_ms", self.asJava)
    val c = Option(l.byOp.get(r.id)).getOrElse(new OpCounters)
    val startMs = wallOffsetMs + r.startNs / 1000000L
    val endMs = wallOffsetMs + r.endNs / 1000000L
    val buildEnd = if (r.buildEndMs > 0) r.buildEndMs else endMs
    t.put("jobs", c.jobs.get); t.put("stages", c.stages.get); t.put("tasks", c.tasks.get)
    t.put("build_jobs", c.jobTimes.asScala.count(_ < buildEnd))
    t.put("load_jobs", c.loadJobs.get)
    t.put("task_busy_ms", c.busyMs.get)
    t.put("driver_gap_ms", Trace.gapMs(c, startMs, endMs))
    t.put("shuffle_write_bytes", c.shuffleWrite.get)
    t.put("shuffle_read_bytes", c.shuffleRead.get)
    t.put("spill_bytes", c.spill.get)
    t.put("records_read", c.recordsRead.get)
    t.put("gc_ms", r.gcMs)
    t.put("storage_bytes", r.storageBytes)
    if (r.plan != null) {
      val ss = scans(r.plan)
      def metric(n: String) = ss.flatMap(_.metrics.get(n)).map(_.value).sum
      t.put("files_read", metric("numFiles"))
      t.put("scan_rows", metric("numOutputRows"))
    }
    t
  }

  // ---- helpers shared by the workloads ----

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  /** Data files under a store directory, and their total bytes. */
  def dataFiles(p: Path): (Int, Long) = {
    if (!Files.exists(p)) return (0, 0L)
    val walk = Files.walk(p)
    try {
      val fs = walk.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally walk.close()
  }

  /** Order-free digest of (subj, pred, obj) rows: the sum, mod 2^64, of
    * the first 8 bytes of md5(subj \u001f pred \u001f obj). `run.py`
    * computes the same digest from its own answers.
    */
  def rowHash(s: String, p: String, o: String): BigInt = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$s\u001f$p\u001f$o".getBytes("UTF-8"))
    BigInt(1, md.take(8))
  }

  val Mod64: BigInt = BigInt(1) << 64

  def digestRows(rows: Array[Row]): String =
    rows.iterator.map(r => rowHash(r.getString(0), r.getString(1), r.getString(2)))
      .foldLeft(BigInt(0))(_ + _).mod(Mod64).toString

  /** Digest of a whole store, read with plain Spark SQL (not the store API). */
  def storeDigest(spark: SparkSession, path: String): (Long, String) = {
    val h = conv(substring(md5(concat_ws("\u001f", col("subj"), col("pred"), col("obj"))),
      1, 16), 16, 10).cast("decimal(20,0)")
    val r = spark.read.parquet(path).select(h.as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), total.mod(Mod64).toString)
  }
}
