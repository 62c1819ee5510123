package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, record: String)

/** One timed operation. `group` ties operations into the unit a rate is
  * taken over (one cold extract, one episode of turns, one block of
  * queries); `docs` is the input documents the operation handled.
  */
final case class Sample(kind: String, group: Int, wallS: Double, cpuS: Double, docs: Long,
    traced: Boolean)

/** A timed call: its result, wall time, task CPU time, and whether it ran
  * traced.
  */
final case class Timed[T](value: T, wallS: Double, cpuS: Double, traced: Boolean) {
  def sample(kind: String, group: Int, docs: Long): Sample = Sample(kind, group, wallS, cpuS, docs, traced)
}

final case class Metric(name: String, value: Double, unit: String)

/** State shared by a run: the session, the tracer, the output checks. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val cores: Int = opts.cores
  val buckets: Int = opts.cores
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val notes = mutable.LinkedHashMap.empty[String, String]

  def dir(name: String): String = s"${opts.work}/$name"

  /** Set-up runs several times per run; each repetition must regenerate
    * exactly the bytes of the first.
    */
  def sameBytes(rep: Int, digest: String): Unit =
    if (rep == 0) notes("input_sha256") = digest
    else check(s"setup $rep: same seed gives the same bytes")(notes("input_sha256") == digest)

  /** Count one checked operation; an exception or a false result fails it. */
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val pass = try ok catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        failures += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"; false
    }
    if (!pass) {
      failed += 1
      if (failures.isEmpty || !failures.last.startsWith(what)) failures += s"$what: check failed"
    }
    pass
  }

  /** Set while timed units run. In trace mode the timed calls of each kind
    * then alternate untraced, traced, traced, untraced, so that both halves
    * see the same warm-up and host weather, and a kind called twice is traced
    * at least once; the output checks that follow a call share its state.
    */
  var timing = false
  private val calls = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** Run `body`, a call of `kind`, with its wall time and the task CPU
    * seconds its jobs used. The listener bus is drained on both sides,
    * outside the timed window.
    */
  def measured[T](kind: String)(body: => T): Timed[T] = {
    if (timing && opts.trace) {
      tracer.enabled = calls(kind) % 4 == 1 || calls(kind) % 4 == 2
      calls(kind) += 1
    }
    tracer.drain()
    val c0 = tracer.meter.totalCpuNs
    val (r, wall) = Stats.time(body)
    tracer.drain()
    Timed(r, wall, (tracer.meter.totalCpuNs - c0) / 1e9, tracer.enabled)
  }
}

/** What a workload must provide. `unit` runs one group of timed operations
  * and appends their samples; `Main` repeats it until time is up.
  */
trait Workload {
  type State
  def setup(ctx: Ctx, rep: Int): State
  /** One untimed unit that runs the same code paths as `unit`. The JIT is
    * still compiling the engine's driver-side code long after the first
    * job, so timing starts after `warmUnits` of these. A count, not a time:
    * on a slow host a time budget would leave the JIT less far along.
    */
  def warm(ctx: Ctx, s: State, i: Int): Unit
  def warmUnits: Int
  def unit(ctx: Ctx, s: State, group: Int, out: mutable.ArrayBuffer[Sample]): Unit
  def mainKinds: Set[String]
  def auxKinds: Set[String]
  /** Per-layer figures from the traced calls; trace mode only. */
  def layers(ctx: Ctx, s: State): Seq[Metric]
}

object Main {
  val Workloads: Map[String, Workload] = Map(
    "extract_batch" -> ExtractBatch,
    "pipeline_turns" -> PipelineTurns,
    "search_mix" -> SearchMix)

  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("work"), need("record"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val spark = session(o)
    try run(spark, o, w) finally spark.stop()
  }

  /** Repeat whole groups of operations until `seconds` have passed, and at
    * least twice. A group can take most of `seconds` (an episode of turns),
    * and a run that stopped after one would report the slower first group
    * alone. A traced run needs two groups so that every kind of call has
    * traced and untraced samples at the same positions.
    */
  private def measure(ctx: Ctx, w: Workload)(s: w.State, seconds: Double): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var g = 0
    ctx.timing = true
    do { w.unit(ctx, s, g, out); g += 1 } while (System.nanoTime() < deadline || g < 2)
    ctx.timing = false
    ctx.tracer.enabled = false
    out.toSeq
  }

  private def run(spark: SparkSession, o: Opts, w: Workload): Unit = {
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val tracer = new Tracer(spark, meter)
    val ctx = new Ctx(spark, o, tracer)
    val calib = mutable.ArrayBuffer(Stats.calibrate())
    def phase[T](name: String)(body: => T): T = {
      val (r, s) = Stats.time(body)
      ctx.notes(s"phase.$name.s") = f"$s%.2f"
      r
    }

    tracer.enabled = o.trace
    val setups = phase("setup")((0 until SetupReps).map(rep => Stats.time(w.setup(ctx, rep))))
    tracer.enabled = false
    val state = setups.last._1
    val setupS = Stats.median(setups.map(_._2))

    phase("warm")((0 until w.warmUnits).foreach(i => w.warm(ctx, state, i)))
    calib += Stats.calibrate()

    val samples = phase("measure")(measure(ctx, w)(state, o.seconds))
    val (traced, plain) = samples.partition(_.traced)
    val metrics: Seq[Metric] =
      if (!o.trace) endToEnd(ctx, w, plain, setupS)
      else phase("layers") {
        tracer.enabled = true
        val layerMetrics = w.layers(ctx, state)
        tracer.enabled = false
        def mainMedian(xs: Seq[Sample]) = Stats.median(xs.filter(x => w.mainKinds(x.kind)).map(_.wallS))
        layerMetrics :+ Metric("trace.overhead_ratio", mainMedian(traced) / mainMedian(plain), "ratio")
      }
    calib += Stats.calibrate()
    val calibS = Stats.median(calib.toSeq)
    val contended = calib.max / calib.min > 1.3
    val all = if (o.trace) metrics :+ Metric("calib.cpu_s", calibS, "s") else metrics

    ctx.failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    val record = new java.io.File(o.record)
    record.getParentFile.mkdirs()
    val notes = ctx.notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    val body =
      s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"seconds":${o.seconds},""" +
      s""""trace":${o.trace},"cores":${o.cores},"calib_cpu_s":[${calib.mkString(",")}],""" +
      s""""contended":$contended,"setup_s":[${setups.map(_._2).mkString(",")}],""" +
      s""""notes":{$notes},"failures":[${ctx.failures.map(Json.str).mkString(",")}],""" +
      s""""samples":[${samples.map(x => s"[${Json.str(x.kind)},${x.group},${x.wallS},${x.cpuS},${x.traced}]").mkString(",")}]}"""
    java.nio.file.Files.writeString(record.toPath, body + "\n")
    if (o.trace) java.nio.file.Files.writeString(
      new java.io.File(record.getParentFile, record.getName.stripSuffix(".json") + ".spans.json").toPath,
      tracer.json)

    println(s"perfbench: ${o.workload} seed=${o.seed} calib.cpu_s=$calibS contended=$contended " +
      ctx.notes.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val ms = all.map(m => s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
  }

  private def endToEnd(ctx: Ctx, w: Workload, samples: Seq[Sample], setupS: Double): Seq[Metric] = {
    val main = samples.filter(s => w.mainKinds(s.kind))
    val aux = samples.filter(s => w.auxKinds(s.kind))
    val rated = samples.filter(_.docs > 0).groupBy(_.group).values.toSeq
    val docsPerS = rated.map(g => g.map(_.docs).sum / g.map(_.wallS).sum)
    val docsPerCpuS = rated.map(g => g.map(_.docs).sum / g.map(_.cpuS).sum)
    ctx.notes ++= Seq(
      "samples.main" -> main.size.toString, "samples.aux" -> aux.size.toString,
      "samples.rate_groups" -> rated.size.toString)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("docs_per_s", Stats.median(docsPerS), "docs/s"),
      Metric("docs_per_cpu_s", Stats.median(docsPerCpuS), "docs/cpu_s"),
      Metric("main_op_s_p50", Stats.median(main.map(_.wallS)), "s"),
      Metric("aux_op_s_p50", Stats.median(aux.map(_.wallS)), "s"))
  }
}
