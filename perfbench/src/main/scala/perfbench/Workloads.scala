package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.model.{Edge, WebPage}
import graft.operators.{Blocking, ConnectedComponents, PairScoring}
import graft.pipeline.{CorpusBuild, EntityResolution}
import graft.sources.SnapshotStore

/** The workloads. Each one sets up (timed, several times: `setup_s`),
  * checks its outputs in an untimed check pass that also warms the JVM,
  * then runs a closed loop of timed passes; a traced run adds one pass in
  * which every layer call is a span and its output is forced, so the layer
  * is timed alone. */
object Workloads {

  /** er_natural corpus size in clusters (~1.9 docs each). */
  val ErClusters = 4000L
  /** Clusters in the smoke corpora: a few hundred docs. */
  val SmokeClusters = 150L
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed er_natural passes between the check pass and the timed
    * ones: a fresh JVM runs its first passes slower while it compiles the
    * pipeline. */
  val WarmUpPasses = 3
  /** Timed er_natural passes per run at least, whatever `--seconds` says. */
  val MinPasses = 6

  // ------------------------------------------------------------ helpers

  /** Progress on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%7.2f s  $msg")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolation percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100 * (s.length - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  private def dirMb(p: String): Double = {
    val st = Files.walk(Paths.get(p))
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum / 1e6
    finally st.close()
  }

  /** Fold the cached and checkpointed block MB into the run's peak. */
  private def samplePinned(ctx: Ctx): Unit = {
    val mb = ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    ctx.rep.pinnedPeak = math.max(ctx.rep.pinnedPeak, mb)
  }

  /** Run a set-up `rounds` times; report the median time as `setup_s`. */
  private def setup(ctx: Ctx, rounds: Int)(one: Int => Unit): Unit = {
    val secs = (1 to rounds).map(i => timed(one(i))._2)
    log(s"set-up done")
    ctx.rep.endToEnd("setup_s", median(secs), "s")
    ctx.rep.note("setups_s", Json.arr(secs))
  }

  /** Closed loop of timed passes: whole passes until `--seconds` have
    * elapsed and at least `minPasses` ran. Records each pass's co-tenant
    * load. Returns the seconds of the passes that succeeded. */
  private def timedPasses(ctx: Ctx, minPasses: Int)(pass: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val secs = mutable.ArrayBuffer[Double]()
    val busy = mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds) {
      val h0 = Host.snap()
      pass(i).foreach(secs += _)
      samplePinned(ctx)
      busy += Host.otherBusyCores(h0, Host.snap())
      i += 1
    }
    log(s"timed passes done")
    ctx.rep.note("passes_s", Json.arr(secs.toSeq))
    ctx.rep.note("other_busy_cores_per_pass", Json.arr(busy.toSeq))
    ctx.rep.note("cores", Main.cores.toString)
    ctx.rep.note("nproc", Host.nproc.toString)
    secs.toSeq
  }

  /** Numbers every traced pass reports: driver-serial time, how much of
    * the traced wall time the layer spans plus serial time account for, and
    * the cost of tracing. */
  private def traceSummary(
      ctx: Ctx, serial: Double, attributedFrac: Double, overhead: Double,
      tracedS: Double, inputMb: Double, busy: Double): Unit = {
    val rep = ctx.rep
    rep.perLayer("driver.serial_s", serial, "s")
    rep.perLayer("trace.attributed_frac", attributedFrac, "ratio")
    rep.perLayer("trace.overhead_s", overhead, "s")
    rep.perLayer("input_mb", inputMb, "MB")
    rep.perLayer("pinned_mb.peak", rep.pinnedPeak, "MB")
    rep.perLayer("host.other_busy_cores", busy, "cores")
    rep.perLayer("host.cores", Main.cores, "count")
    rep.perLayer("host.nproc", Host.nproc, "count")
    rep.note("traced_pass_s", Json.num(tracedS))
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  // -------------------------------------------------------- er_natural

  def erNatural(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val rep = ctx.rep
    val n = if (a.smoke) SmokeClusters else ErClusters
    val start = Inputs.clusterStart(a.seed)
    val copies = (1 to Setups).map(i => s"${a.work}/webpages-$i")
    setup(ctx, Setups) { i =>
      Inputs.webpages(spark, start, n, 2 * Main.cores).write.parquet(copies(i - 1))
    }
    copies.init.foreach(c => graft.util.Scratch.deleteTree(Paths.get(c)))
    val path = copies.last
    val docs = spark.read.parquet(path).count()

    // runOnTable returns only the number of docs it clustered, so that is
    // all a timed pass can check; its layers' output is checked by the
    // check pass below, which calls the same layers with the same defaults
    def pass(i: Int): Option[Double] =
      rep.op(s"er_natural pass $i")(timed(EntityResolution.runOnTable(spark, path))) {
        case ((clustered, _), _) =>
          if (clustered != docs) Some(s"$clustered docs clustered of $docs") else None
      }.map(_._2)

    // check pass, also the first JVM warm-up: the layers called with the
    // defaults runOnTable passes them, scored against the planted labels;
    // its cluster assignment is the reference digest
    val labeled = Inputs.labeledPairs(spark, start, n)
    val reference = rep.op("er_natural check pass") {
      composedEr(ctx, path, None) { assigned =>
        (EntityResolution.pairwiseF1(spark, assigned, labeled), Inputs.digest(assigned),
          assigned.count())
      }._1
    } { case (f1, d, nAssigned) =>
      if (nAssigned != docs) Some(s"$nAssigned assignments for $docs docs")
      else if (f1.f1 < 0.99) Some(f"pairwise F1 ${f1.f1}%.4f < 0.99")
      else ctx.pins.mismatch("er_natural", s"$n/${a.seed}", d)
    }
    reference.foreach { case (f1, _, _) =>
      rep.note("f1", Json.metric(f1.f1, "ratio"))
      rep.perLayer("er.f1", f1.f1, "ratio")
    }
    log("check pass done")

    (1 to WarmUpPasses).foreach(i => pass(-i)) // untimed JVM warm-up
    log("warm-up passes done")
    val passes = timedPasses(ctx, MinPasses)(pass)
    val passS = median(passes)
    rep.endToEnd("pass_s", passS, "s")
    rep.endToEnd("items_per_s", docs / passS, "1/s")
    rep.endToEnd("query_s.p50", percentile(passes, 50), "s")
    rep.endToEnd("query_s.p95", percentile(passes, 95), "s")
    rep.note("docs_per_s", Json.metric(docs / passS, "docs/s"))
    rep.note("docs", docs.toString)

    ctx.probe.foreach { p =>
      tracedEr(ctx, p, path, docs, passS, reference.map(_._2))
      tracedCorpusBuild(ctx, p, start, n)
    }
  }

  /** What one composed ER pass saw, layer by layer. */
  private final class ErCounts {
    val rows = mutable.LinkedHashMap[String, Long]()
    var hotBlocks, dups = 0L
  }

  /** One ER pass composed from the layers' public functions, called with
    * the defaults `EntityResolution.runOnTable` passes them. Every layer's
    * output is persisted and forced; with a probe, each layer runs in its
    * own span inside an `er.pass` span. `use` gets the (url, cluster)
    * assignment before the pass releases what it persisted. */
  private def composedEr[T](ctx: Ctx, path: String, probe: Option[Probe])(
      use: DataFrame => T): (T, ErCounts) = {
    val spark = ctx.spark
    import spark.implicits._
    val counts = new ErCounts
    def layer[D](l: String)(body: => (D, Long)): D = {
      val (r, n) = probe.fold(body)(_.span(s"er.$l", 0)(body))
      counts.rows(l) = n
      samplePinned(ctx)
      r
    }
    var cached: List[Dataset[_]] = Nil
    def keep[D](d: Dataset[D]) = { cached ::= d; d.persist(StorageLevel.MEMORY_AND_DISK) }
    var release: () => Unit = () => ()
    try {
      def layers() = {
        val pages = spark.read.parquet(path).as[WebPage]
        val extracted = layer("extract") {
          val x = keep(EntityResolution.extract(spark, pages)); (x, x.count())
        }
        val feats = layer("features") {
          val f = keep(Blocking.features(spark, extracted)); (f, f.count())
        }
        val blocks = layer("block") {
          val b = keep(Blocking.blockEntries(spark, feats)); (b, b.count())
        }
        val pairs = layer("pair") {
          val gen = Blocking.candidatePairs(spark, blocks)
          try {
            val pp = keep(gen.pairs)
            val c = pp.count()
            counts.hotBlocks = gen.hotBlocks()
            (pp, c)
          } finally gen.release()
        }
        val scored = layer("score") {
          val s = keep(PairScoring.score(spark, pairs, feats))
          val c = s.count()
          counts.dups = s.where(col("isDuplicate")).count()
          (s, c)
        }
        val assigned = layer("cluster") {
          val edges = scored.where(col("isDuplicate")).select(col("src"), col("dst")).as[Edge]
          val (as, rel) = ConnectedComponents.assignManaged(spark, edges, feats.select(col("id")))
          release = rel
          (as, as.count())
        }
        (feats, assigned)
      }
      val (feats, assigned) = probe.fold(layers())(_.span("er.pass", 0)(layers()))
      (use(feats.select(col("id"), col("url")).join(assigned, "id")
        .select(col("url"), col("comp").as("cluster"))), counts)
    } finally {
      release()
      cached.foreach(_.unpersist(blocking = true))
    }
  }

  /** The traced ER pass: `composedEr` with a span around every layer. */
  private def tracedEr(
      ctx: Ctx, p: Probe, path: String, docs: Long, untraced: Double,
      reference: Option[String]): Unit = {
    val rep = ctx.rep
    val h0 = Host.snap()
    val counts = rep.op("er_natural traced pass")(composedEr(ctx, path, Some(p))(Inputs.digest)) {
      case (d, _) =>
        if (reference.exists(_ != d)) Some(s"cluster digest $d differs from the check pass's")
        else None
    }.map(_._2).getOrElse(new ErCounts)
    val busy = Host.otherBusyCores(h0, Host.snap())
    p.drain()
    val passSpan = p.spansNamed("er.pass").last
    val layers = Metrics.ErLayers.map(l => l -> p.spansNamed(s"er.$l").last)
    layers.foreach { case (l, s) =>
      val ag = p.inclusive(s)
      rep.perLayer(s"er.$l.wall_s", p.selfSeconds(s), "s")
      rep.perLayer(s"er.$l.task_s", ag.taskMs / 1e3, "s")
      rep.perLayer(s"er.$l.gc_s", ag.gcMs / 1e3, "s")
      rep.perLayer(s"er.$l.shuffle_write_mb", mb(ag.shuffleWriteBytes), "MB")
      rep.perLayer(s"er.$l.spill_mb", mb(ag.spillBytes), "MB")
      rep.perLayer(s"er.$l.rows_out", counts.rows.getOrElse(l, 0L).toDouble, "rows")
      rep.perLayer(s"er.$l.skew", ag.skew, "ratio")
      rep.perLayer(s"er.$l.stages", ag.stages.toDouble, "count")
    }
    val nPairs = counts.rows.getOrElse("pair", 0L)
    rep.perLayer("er.pair.pairs_per_doc", nPairs.toDouble / docs, "ratio")
    rep.perLayer("er.pair.hot_blocks", counts.hotBlocks.toDouble, "count")
    rep.perLayer("er.score.dup_ratio",
      if (nPairs == 0) 0.0 else counts.dups.toDouble / nPairs, "ratio")
    rep.perLayer("er.cluster.jobs", p.inclusive(layers.last._2).jobs.toDouble, "count")
    val serial = p.serialSeconds(passSpan)
    val layerBusy = layers.map { case (_, s) => p.selfSeconds(s) - p.serialSeconds(s) }.sum
    traceSummary(ctx, serial, (layerBusy + serial) / passSpan.seconds,
      passSpan.seconds - untraced, passSpan.seconds, dirMb(path), busy)
  }

  // ------------------------------------------------------ corpus_build

  /** The CorpusBuild layers, traced in er_natural's traced run: the same
    * seeded pages as (doc_id, source, text) rows, one untimed run that
    * checks the packed and mixture digests, then one traced run whose
    * stage numbers come from each snapshot's `_MANIFEST.json`. */
  private def tracedCorpusBuild(ctx: Ctx, p: Probe, start: Long, n: Long): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val rep = ctx.rep
    val path = s"${a.work}/documents"
    Inputs.corpusDocs(spark, start, n, 2 * Main.cores).write.parquet(path)
    var reference: Option[String] = None
    def run(i: Int, traced: Boolean): Option[SnapshotStore] = {
      val store = new SnapshotStore(spark, s"${a.work}/corpus-store-$i")
      def build() = CorpusBuild.run(spark, store, spark.read.parquet(path))
      rep.op(s"corpus_build run $i") {
        if (traced) p.span("corpus.pass", 0)(p.span("corpus.run", 0)(build())) else build()
        Inputs.digest(store.read("packed")) + "|" + Inputs.digest(store.read("mixture"))
      } { d =>
        if (reference.exists(_ != d)) Some(s"output digest $d differs from the first run's")
        else ctx.pins.mismatch("corpus_build", s"$n/${a.seed}", d)
      }.map { d => reference = Some(d); store }
    }
    run(0, traced = false)
    run(1, traced = true).foreach { store =>
      p.drain()
      Metrics.CorpusStages.foreach { st =>
        val m = Pins.mapper.readTree(store.manifest(st).getOrElse("{}"))
        rep.perLayer(s"corpus.$st.wall_s", m.path("elapsedMs").asDouble / 1e3, "s")
        rep.perLayer(s"corpus.$st.rows_out", m.path("rows").asDouble, "rows")
        rep.perLayer(s"corpus.$st.files", m.path("numFiles").asDouble, "count")
      }
      val ag = p.inclusive(p.spansNamed("corpus.pass").last)
      val written = mb(ag.outputBytes)
      rep.perLayer("corpus.task_s", ag.taskMs / 1e3, "s")
      rep.perLayer("corpus.shuffle_write_mb", mb(ag.shuffleWriteBytes), "MB")
      rep.perLayer("corpus.spill_mb", mb(ag.spillBytes), "MB")
      rep.perLayer("corpus.bytes_written_mb", written, "MB")
      rep.perLayer("corpus.write_amp", written / dirMb(path), "ratio")
      rep.perLayer("corpus.jobs", ag.jobs.toDouble, "count")
    }
    log("corpus_build traced run done")
  }

  // ----------------------------------------------------------- catalog

  /** Catalog tables, read in place: the sf0.01 copy (sf0.001 in smoke mode). */
  val CatalogScale = "sf0.01"
  val SmokeCatalogScale = "sf0.001"
  /** Catalog set-ups per run; `setup_s` is their median. */
  val CatalogSetups = 3

  /** Run `f` over `xs` on `cores` driver threads; untimed phases only. */
  private def inParallel[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(Main.cores)
    try xs.map(x => pool.submit(new Callable[Unit] { def call(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  private def short(q: String): String = q.takeWhile(_ != '_')

  def catalog(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val rep = ctx.rep
    val scale = if (a.smoke) SmokeCatalogScale else CatalogScale
    val dir = s"${a.data}/$scale"
    val tables = {
      val st = Files.list(Paths.get(dir))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
      finally st.close()
    }
    // set-up: a fresh session, with GraftExtensions injected into its
    // state, plans a read of every table (schema and file listing)
    setup(ctx, CatalogSetups) { _ =>
      val s = spark.newSession()
      tables.foreach(t => s.read.parquet(s"$dir/$t").queryExecution.executedPlan)
    }
    val queries = graft.SparkEntry.queries
    // the seed permutes the order in which the client sends the queries
    val order = new scala.util.Random(a.seed).shuffle(queries.keys.toSeq.sorted)
    rep.note("query_order", order.map(Json.str).mkString("[", ",", "]"))

    // check pass, also the JVM warm-up: every query's digest against its
    // pin, run by `cores` threads at once (only the timed pass is serial)
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    inParallel(order) { q =>
      rep.op(s"catalog check $q")(Inputs.digest(queries(q)(spark, dir))) { d =>
        rows.put(q, d.takeWhile(_ != ':').toLong)
        ctx.pins.mismatch("catalog", s"$scale/$q", d)
      }
    }
    log("check pass done")

    var leaked = 0L
    def query(q: String, traced: Option[Probe]): Option[Double] = {
      val before = spark.sparkContext.getPersistentRDDs.size
      val r = rep.op(s"catalog $q") {
        traced match {
          case Some(p) => p.span(s"catalog.$q", 0)(timed(queries(q)(spark, dir).count()))
          case None => timed(queries(q)(spark, dir).count())
        }
      } { case (n, _) =>
        if (rows.containsKey(q) && rows.get(q) != n) Some(s"$n rows, check pass had ${rows.get(q)}")
        else None
      }.map(_._2)
      samplePinned(ctx)
      if (traced.isDefined) leaked += math.max(0, spark.sparkContext.getPersistentRDDs.size - before)
      r
    }

    // a traced run prints no end-to-end metric, so it runs no timed pass
    if (ctx.probe.isEmpty) {
      val timedQueries = mutable.ArrayBuffer[(String, Double)]()
      val passes = timedPasses(ctx, 1) { _ =>
        val (lat, s) = timed(order.flatMap(q => query(q, None).map(q -> _)))
        timedQueries ++= lat
        Some(s)
      }
      val latencies = timedQueries.map(_._2)
      rep.endToEnd("pass_s", median(passes), "s")
      rep.endToEnd("items_per_s", latencies.length / latencies.sum, "1/s")
      rep.endToEnd("query_s.p50", percentile(latencies.toSeq, 50), "s")
      rep.endToEnd("query_s.p95", percentile(latencies.toSeq, 95), "s")
      rep.note("queries_timed", latencies.length.toString)
      rep.note("query_latencies_s", timedQueries.map { case (q, t) =>
        s"${Json.str(q)}:${Json.num(t)}" }.mkString("{", ",", "}"))
    }

    ctx.probe.foreach { p =>
      // the traced pass is the run's second pass over the queries, like the
      // timed pass of an untraced run, so its layer numbers explain that
      // pass; one untraced pass follows it for trace.overhead_s
      val h0 = Host.snap()
      p.span("catalog.pass", 0)(order.foreach(q => query(q, Some(p))))
      val busy = Host.otherBusyCores(h0, Host.snap())
      val untraced = timed(order.foreach(q => query(q, None)))._2
      p.drain()
      val spans = order.flatMap(q => p.spansNamed(s"catalog.$q").lastOption.map(q -> _)).toMap
      val byShort = spans.map { case (q, s) => short(q) -> s }
      Metrics.CatalogNamed.foreach { q =>
        rep.perLayer(s"catalog.$q.wall_s", byShort.get(q).map(p.selfSeconds).getOrElse(0.0), "s")
      }
      rep.perLayer("catalog.rest_s", spans.collect {
        case (q, s) if !Metrics.CatalogNamed.contains(short(q)) => p.selfSeconds(s)
      }.sum, "s")
      val passSpan = p.spansNamed("catalog.pass").last
      val ag = p.inclusive(passSpan)
      rep.perLayer("catalog.jobs", ag.jobs.toDouble, "count")
      rep.perLayer("catalog.stages", ag.stages.toDouble, "count")
      rep.perLayer("catalog.task_s", ag.taskMs / 1e3, "s")
      def of(q: String) = byShort.get(q).map(p.inclusive)
      rep.perLayer("catalog.q29.stages", of("q29").map(_.stages.toDouble).getOrElse(0.0), "count")
      Seq("q53", "q61").foreach { q =>
        rep.perLayer(s"catalog.$q.shuffle_write_mb",
          of(q).map(x => mb(x.shuffleWriteBytes)).getOrElse(0.0), "MB")
      }
      rep.perLayer("catalog.leaked_rdds", leaked.toDouble, "count")
      val serial = p.serialSeconds(passSpan)
      val layerBusy = spans.values.map(s => p.selfSeconds(s) - p.serialSeconds(s)).sum
      traceSummary(ctx, serial, (layerBusy + serial) / passSpan.seconds,
        passSpan.seconds - untraced, passSpan.seconds, dirMb(dir), busy)
      rep.note("untraced_pass_s", Json.num(untraced))
    }
  }
}
