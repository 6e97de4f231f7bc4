package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through `perfbench/run.py`, which builds the
  * classpath first):
  *
  *   perfbench.Main --workload er_natural|catalog --seed N
  *     --seconds S --trace 0|1 --work DIR --data DIR [--smoke] [--pins FILE]
  *
  * The last stdout line is the result object; the line before it, prefixed
  * `detail `, carries every end-to-end number under its name and unit plus
  * per-pass observations (co-tenant load, digests). */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, smoke: Boolean, pins: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = mutable.HashMap[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "smoke") { flags += k; i += 1 }
      else { kv(k) = argv(i + 1); i += 2 }
    }
    // any integer seed; one beyond 64 bits wraps, still one input per seed
    Args(kv("workload"), BigInt(kv("seed")).toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("data"),
      flags("smoke"), kv.get("pins"))
  }

  /** Cores the benchmark uses: at most 4, never more than the host has. */
  def cores: Int = math.min(4, Host.nproc)

  private def session(a: Args): SparkSession = {
    val n = cores
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .appName(s"perfbench-${a.workload}")
      .master(s"local[$n]")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // loopback only, whatever interfaces the host has
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    Workloads.log("session ready")
    val probe = if (a.trace) Some(new Probe(spark.sparkContext)) else None
    val rep = new Report(a)
    val ctx = Ctx(spark, a, rep, probe, Pins.load(a.pins))
    try a.workload match {
      case "er_natural" => Workloads.erNatural(ctx)
      case "catalog" => Workloads.catalog(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      probe.foreach { p =>
        p.drain()
        val out = java.nio.file.Paths.get(a.work, s"trace-${a.workload}-${a.seed}.json")
        java.nio.file.Files.writeString(out, p.toJson)
        System.err.println(s"[perfbench] spans written to $out")
      }
    }
    spark.stop()
    Workloads.log("session stopped")
    rep.note("digests", ctx.pins.seenJson)
    println("detail " + rep.detailJson)
    println(rep.resultJson)
  }
}

final case class Ctx(
    spark: SparkSession, args: Main.Args, rep: Report,
    probe: Option[Probe], pins: Pins)

/** Counts of attempted and failed operations, and the metrics to print. */
final class Report(a: Main.Args) {
  var attempted = 0L
  var failed = 0L
  /** Peak cached + checkpointed block MB, sampled at operation boundaries. */
  var pinnedPeak = 0.0
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private val detail = mutable.LinkedHashMap[String, String]()
  private val failures = mutable.ArrayBuffer[String]()

  /** One operation: an exception fails it, and so does a false check. */
  def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    synchronized { attempted += 1 }
    try {
      val r = body
      check(r) match {
        case Some(why) => fail(what, why); None
        case None => Some(r)
      }
    } catch {
      case e: Throwable =>
        fail(what, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        None
    }
  }

  private def fail(what: String, why: String): Unit = synchronized {
    failed += 1
    failures += s"$what: $why"
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted

  def endToEnd(name: String, value: Double, unit: String): Unit = {
    e2e(name) = (value, unit); detail(name) = Json.metric(value, unit)
  }
  def perLayer(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)
  def note(name: String, json: String): Unit = synchronized { detail(name) = json }

  def detailJson: String = {
    detail("pinned_mb.peak") = Json.metric(pinnedPeak, "MB")
    detail("failed_frac") = Json.metric(failedFrac, "ratio")
    if (failures.nonEmpty) detail("failures") = failures.map(Json.str).mkString("[", ",", "]")
    detail.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  def resultJson: String = {
    val names = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    if (a.trace) perLayer("failed_frac", failedFrac, "ratio")
    val src = if (a.trace) layer else e2e
    // a per-layer metric of a layer the workload never calls reads 0; a
    // missing end-to-end metric reads null and makes the run incorrect
    val values = names.map { case (n, unit) =>
      n -> (src.get(n).map(_._1).getOrElse(if (a.trace) 0.0 else Double.NaN), unit)
    }
    val ms = values.map { case (n, (v, unit)) => s"${Json.str(n)}:${Json.metric(v, unit)}" }
    val correct = failed == 0 && attempted > 0 && values.forall(!_._2._1.isNaN)
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def metric(v: Double, unit: String): String = s"""{"value":${num(v)},"unit":${str(unit)}}"""
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}

/** The metric names and units this benchmark prints; BENCHMARK.json lists
  * the same names. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "items_per_s" -> "1/s",
    "query_s.p50" -> "s", "query_s.p95" -> "s")

  val ErLayers = Seq("extract", "features", "block", "pair", "score", "cluster")
  val CorpusStages = Seq("gated", "fingerprints", "canonical", "survivors", "packed", "mixture")
  val CatalogNamed = Seq("q53", "q69", "q29", "q43", "q03", "q25", "q58", "q41", "q40",
    "q27", "q63", "q34", "q54", "q61", "q65")

  val perLayer: Seq[(String, String)] =
    ErLayers.flatMap { l =>
      Seq("wall_s" -> "s", "task_s" -> "s", "gc_s" -> "s", "shuffle_write_mb" -> "MB",
        "spill_mb" -> "MB", "rows_out" -> "rows", "skew" -> "ratio", "stages" -> "count")
        .map { case (m, u) => s"er.$l.$m" -> u }
    } ++ Seq("er.pair.pairs_per_doc" -> "ratio", "er.pair.hot_blocks" -> "count",
      "er.score.dup_ratio" -> "ratio", "er.cluster.jobs" -> "count", "er.f1" -> "ratio") ++
      CorpusStages.flatMap { s =>
        Seq(s"corpus.$s.wall_s" -> "s", s"corpus.$s.rows_out" -> "rows",
          s"corpus.$s.files" -> "count")
      } ++ Seq("corpus.task_s" -> "s", "corpus.shuffle_write_mb" -> "MB", "corpus.spill_mb" -> "MB",
        "corpus.bytes_written_mb" -> "MB", "corpus.write_amp" -> "ratio",
        "corpus.jobs" -> "count") ++
      CatalogNamed.map(q => s"catalog.$q.wall_s" -> "s") ++
      Seq("catalog.rest_s" -> "s", "catalog.jobs" -> "count", "catalog.stages" -> "count",
        "catalog.task_s" -> "s", "catalog.q29.stages" -> "count",
        "catalog.q53.shuffle_write_mb" -> "MB", "catalog.q61.shuffle_write_mb" -> "MB",
        "catalog.leaked_rdds" -> "count",
        "driver.serial_s" -> "s", "input_mb" -> "MB", "trace.overhead_s" -> "s",
        "trace.attributed_frac" -> "ratio", "pinned_mb.peak" -> "MB", "failed_frac" -> "ratio",
        "host.other_busy_cores" -> "cores", "host.cores" -> "count", "host.nproc" -> "count")
}
