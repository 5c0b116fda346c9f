package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.Pipeline
import graft.llm.{Curation, CurationPipeline, EmbeddingPipeline}

/** The benchmark's in-process harness. run.py generates the inputs, starts
  * this program, and checks what it leaves in the run directory; the program
  * times the engine's public entry points and writes `result.json`.
  *
  * Usage: Main <workload> <runDir> <seconds> <trace 0|1> <seed> <launchEpochUs>
  *
  * Every timed op materializes its whole result. Between ops (outside the
  * timed window) the harness forces a GC and samples the live heap; with
  * tracing on it also drains the listener bus and measures the bytes the op
  * added under `java.io.tmpdir`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, seconds, trace, seed, launchUs) = args
    val h = new Harness(runDir, trace == "1", launchUs.toLong)
    val deadline = () => h.nowUs() - h.warmStartUs > seconds.toLong * 1000000L
    workload match {
      case "etl_incremental" => Workloads.etl(h, deadline)
      case "query_mix" => Workloads.queryMix(h, deadline, seed.toLong)
      case "llm_pipelines" => Workloads.llm(h, deadline)
      case other => sys.error(s"unknown workload $other")
    }
    h.finish(workload)
  }
}

/** One timed op: its spans, its sub-phase durations and what it left behind. */
final case class Op(id: String, name: String, module: String, phase: String, traced: Boolean,
                    startUs: Long, endUs: Long, subs: Seq[(String, String, Long, Long)],
                    cpuNs: Long, heapMb: Double, cachedMb: Double, artifactBytes: Long)

final class Harness(val runDir: String, val trace: Boolean, launchUs: Long) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val cores: Int = Runtime.getRuntime.availableProcessors
  val tmpRoot = s"$runDir/tmp"
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]").appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
    .config("spark.local.dir", s"$runDir/spark-local")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  val tracer = new Tracer
  // With tracing off no listener is attached; tracing is switched per op so
  // the traced run can also time untraced ops and measure its own overhead.
  private var attached = false
  private def attach(on: Boolean): Unit = if (on != attached) {
    if (on) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    } else {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
    attached = on
  }

  val ops = mutable.ArrayBuffer[Op]()
  val extra = mutable.LinkedHashMap[String, Any]()
  var setupUs = 0L
  var warmStartUs = Long.MaxValue

  /** Points every artifact path of the engine at a fresh directory (the
    * engine reads `java.io.tmpdir` per call) and checks it starts empty. */
  def freshTmp(name: String): Unit = {
    val d = new File(s"$runDir/$name")
    require(!d.exists || d.list().isEmpty, s"artifact dir $d is not empty")
    d.mkdirs()
    System.setProperty("java.io.tmpdir", d.getPath)
  }

  def setupDone(): Unit = if (setupUs == 0L) setupUs = nowUs() - launchUs

  def warmStarts(): Unit = warmStartUs = nowUs()

  /** Inside an op: a named sub-span. `phase` is `build` for the public call
    * (a builder returning a DataFrame, or a whole pipeline run) and `exec`
    * for materializing a returned DataFrame; jobs started inside carry it. */
  final class Ctx {
    val subs = mutable.ArrayBuffer[(String, String, Long, Long)]()
    def span[T](name: String, phase: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, phase)
      val t0 = nowUs()
      try body finally subs += ((name, phase, t0, nowUs()))
    }
  }

  def op[T](name: String, module: String, phase: String, traced: Boolean = trace)
           (body: Ctx => T): T = {
    if (phase != "warmup") setupDone()
    val id = f"${ops.size}%04d-$name"
    attach(traced)
    val sc = spark.sparkContext
    val bytesBefore = if (traced) Harness.dirBytes(tmpRoot) else 0L
    tracer.current = id
    sc.setLocalProperty(Tracer.OpKey, id)
    val ctx = new Ctx
    val cpu0 = Harness.processCpuNs()
    val t0 = nowUs()
    val out = try body(ctx) finally {
      val t1 = nowUs()
      val cpu = Harness.processCpuNs() - cpu0
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      if (traced) BenchAccess.drain(sc)
      tracer.current = Tracer.Unattributed
      val cached = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val added = if (traced) Harness.dirBytes(tmpRoot) - bytesBefore else 0L
      ops += Op(id, name, module, phase, traced, t0, t1, ctx.subs.toSeq, cpu, heap, cached, added)
    }
    out
  }

  /** Untimed engine work: writing outputs out for the checks. */
  def untimed[T](body: => T): T = {
    attach(false)
    body
  }

  def finish(workload: String): Unit = {
    attach(false)
    val probe1 = Harness.probe(1)
    val probeN = Harness.probe(cores)
    val leftBytes = Harness.dirBytes(tmpRoot)
    val opsJson = ops.map { o =>
      Json.obj(Seq("id" -> o.id, "name" -> o.name, "module" -> o.module, "phase" -> o.phase,
        "traced" -> o.traced, "start_us" -> o.startUs, "end_us" -> o.endUs,
        "subs" -> o.subs.map { case (n, ph, a, b) =>
          Json.obj(Seq("name" -> n, "phase" -> ph, "start_us" -> a, "end_us" -> b))
        },
        "cpu_s" -> o.cpuNs / 1e9, "heap_mb" -> o.heapMb, "cached_mb" -> o.cachedMb, "artifact_bytes" -> o.artifactBytes)
        ++ (if (o.traced) tracer.counters.get(o.id).map(_.fields).getOrElse(new Counters().fields) else Nil))
    }
    val jobs = tracer.jobSpans.map { case (j, op, ph, a, b) =>
      Json.obj(Seq("job" -> j, "op" -> op, "phase" -> ph, "start_us" -> a * 1000L, "end_us" -> b * 1000L))
    }
    val un = tracer.counters.get(Tracer.Unattributed).getOrElse(new Counters)
    val doc = Json.obj(Seq(
      "workload" -> workload, "setup_s" -> setupUs / 1e6, "cores" -> cores,
      "ops" -> opsJson.toSeq, "jobs" -> jobs.toSeq, "unattributed" -> Json.obj(un.fields),
      "artifact_bytes_left" -> leftBytes,
      "host" -> Json.obj(Seq(
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "master" -> spark.sparkContext.master,
        "spark.ui.showConsoleProgress" -> spark.conf.get("spark.ui.showConsoleProgress"),
        "probe_1thread_s" -> probe1, s"probe_${cores}thread_s" -> probeN)),
      "extra" -> Json.obj(extra.toSeq)))
    Files.writeString(Paths.get(s"$runDir/result.json"), doc.s)
    spark.stop()
  }
}

object Harness {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (driver, local executors, GC, JIT). */
  def processCpuNs(): Long = os.getProcessCpuTime

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  /** Fixed xorshift loop on `threads` threads; wall seconds (host context). */
  def probe(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42) print("")
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def copyInto(files: Seq[Path], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    files.foreach(f => Files.copy(f, Paths.get(dir).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  def listSorted(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }
}

object Workloads {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** etl_incremental: a backfill of the cold snapshots into an empty
    * warehouse, then one new snapshot per warm op through `Pipeline.run`.
    * The published dim/fact are exported after each backfill and after every
    * few warm ops for run.py's replay check. */
  def etl(h: Harness, deadline: () => Boolean): Unit = {
    val in = s"${h.runDir}/input"
    val s = h.spark
    val cold = Harness.listSorted(s"$in/cold")
    val warm = Harness.listSorted(s"$in/warm")
    // Warm-up: part of the backfill into a throwaway warehouse, then four
    // incremental snapshots, so the timed ops run on compiled code.
    h.freshTmp("tmp_warmup")
    val wp = new Pipeline(s, s"${h.runDir}/warmup")
    Harness.copyInto(cold.take(12), wp.rawDir)
    h.op("backfill", "etl", "warmup", traced = false)(_ => wp.run())
    Harness.listSorted(s"$in/warmup").foreach { f =>
      Harness.copyInto(Seq(f), wp.rawDir)
      h.op("snapshot", "etl", "warmup", traced = false)(_ => wp.run())
    }
    h.freshTmp("tmp")
    val coldReps = 2
    val checks = mutable.ArrayBuffer[Any]()
    def export(p: Pipeline, applied: Int): Unit = h.untimed {
      val d = f"${h.runDir}/check/${checks.size}%03d"
      p.dim().write.parquet(s"$d/dim")
      p.fact().write.parquet(s"$d/fact")
      checks += Json.obj(Seq("dir" -> d, "warm_applied" -> applied))
    }
    var p: Pipeline = null
    for (r <- 0 until coldReps) {
      val root = s"${h.runDir}/wh$r"
      require(!new File(root).exists, s"warehouse $root is not empty")
      p = new Pipeline(s, root)
      Harness.copyInto(cold, p.rawDir)
      h.op("backfill", "etl", "cold")(_ => p.run())
      export(p, 0)
    }
    h.warmStarts()
    var k = 0
    while (!deadline() && k < warm.size) {
      Harness.copyInto(Seq(warm(k)), p.rawDir)
      h.op("snapshot", "etl", "warm", h.trace && k % 2 == 0) { c =>
        c.span("transform", "build")(p.transform())
        c.span("load", "build")(p.run())
      }
      k += 1
      if (k % 4 == 0) export(p, k)
    }
    if (k % 4 != 0) export(p, k)
    h.extra ++= Seq("checks" -> checks.toSeq, "cold_snapshots" -> cold.size,
      "warm_snapshots" -> k)
  }

  /** The query mix: name -> module of the code that builds it. */
  val Mix: Seq[(String, String)] = Seq(
    "q_agg_groupby" -> "ops", "q_join_multi" -> "ops", "q_window_ntile" -> "ops",
    "q_partition_prune" -> "ops", "q_text_bpe_train" -> "llm", "q_cluster_kmeans" -> "llm")

  /** query_mix: a cold pass from an empty artifact dir, then whole warm
    * passes (at least two), each in its own seeded order. Set-up pays Spark's first action
    * on a tiny fixture; each query's own first-use cost stays in the cold
    * pass. Every op's result is written out after its timed window (the plan
    * runs again) for the oracle check. */
  def queryMix(h: Harness, deadline: () => Boolean, seed: Long): Unit = {
    val in = s"${h.runDir}/input"
    val s = h.spark
    val fns = SparkEntry.queries
    h.freshTmp("tmp_warmup")
    h.op("q_agg_groupby", "ops", "warmup", traced = false)(_ => noop(fns("q_agg_groupby")(s, s"$in/warmup")))
    h.freshTmp("tmp")
    val star = s"$in/star"
    val outputs = mutable.ArrayBuffer[Any]()
    def pass(n: Int, phase: String, traced: Boolean): Unit =
      new scala.util.Random(seed * 1000003L + n).shuffle(Mix).foreach { case (q, m) =>
        val df = h.op(q, m, phase, traced) { c =>
          val df = c.span("build", "build")(fns(q)(s, star))
          c.span("materialize", "exec")(noop(df))
          df
        }
        val dir = s"${h.runDir}/check/${h.ops.last.id}"
        h.untimed(df.write.parquet(dir))
        outputs += Json.obj(Seq("op" -> h.ops.last.id, "query" -> q, "dir" -> dir))
      }
    pass(0, "cold", h.trace)
    h.warmStarts()
    // At least two warm passes: op_p50_s then rests on two samples of every
    // query, and a traced run has both a traced and an untraced pass.
    var n = 1
    while (!deadline() || n < 3) {
      pass(n, "warm", h.trace && n % 2 == 1)
      n += 1
    }
    h.extra ++= Seq("passes" -> n, "outputs" -> outputs.toSeq,
      "oracle_sql" -> Json.obj(Mix.map { case (q, _) => q -> SparkEntry.oracleSql(q) }))
  }

  /** llm_pipelines: each op runs the curation and the embedding pipeline
    * over the seeded corpus into a fresh output root. */
  def llm(h: Harness, deadline: () => Boolean): Unit = {
    val in = s"${h.runDir}/input"
    val s = h.spark
    def runBoth(src: String, root: String, c: Option[h.Ctx]): Seq[(String, Long)] = {
      def sp[T](n: String)(b: => T): T = c.fold(b)(_.span(n, "build")(b))
      val cp = new CurationPipeline(s, src, s"$root/curation")
      sp("curation")(cp.run())
      val ep = new EmbeddingPipeline(s, src, s"$root/embedding")
      sp("embedding")(ep.run())
      cp.stageRows.map { case (k, v) => (s"curation.$k", v) } ++
        ep.stageRows.map { case (k, v) => (s"embedding.$k", v) }
    }
    h.freshTmp("tmp_warmup")
    h.op("pipelines", "llm", "warmup", traced = false)(_ => runBoth(s"$in/warmup", s"${h.runDir}/warmup", None))
    h.freshTmp("tmp")
    val stages = mutable.ArrayBuffer[Any]()
    var k = 0
    def one(phase: String, traced: Boolean): Unit = {
      val root = f"${h.runDir}/out/$k%03d"
      val rows = h.op("pipelines", "llm", phase, traced)(c => runBoth(s"$in/corpus", root, Some(c)))
      stages += Json.obj(Seq("root" -> root, "stage_rows" -> Json.obj(rows)))
      k += 1
    }
    one("cold", h.trace)
    h.warmStarts()
    while (!deadline()) one("warm", h.trace && k % 2 == 1)
    h.extra ++= Seq("outputs" -> stages.toSeq, "bench_mod" -> Curation.BenchMod)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: Seq[(String, Any)]): Raw = Raw(kv.map { case (k, v) => q(k) + ":" + render(v) }.mkString("{", ",", "}"))
  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
