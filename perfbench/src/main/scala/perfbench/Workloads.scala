package perfbench

import graft.SparkEntry
import graft.operators.GraphOps
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Everything one run needs: the session, the tracer, its arguments. */
final case class Ctx(spark: SparkSession, tracer: Tracer, workload: String, seed: Long,
                     seconds: Double, trace: Boolean, work: String, cores: Int,
                     sessionS: Double, expected: Map[String, String], plant: Option[String]) {
  private var lastSpan = 0
  val spans = mutable.ArrayBuffer[Span]()
  def nextId(): Int = { lastSpan += 1; lastSpan }

  /** The seed whose digests are recorded in the benchmark's expected file. */
  def recordedSeed: Boolean = seed == Main.DefaultSeed
}

/** What a run measured and checked. */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double],
                         perLayer: Map[String, Double], digests: Map[String, String],
                         report: Seq[String])

object Workloads {
  def nowMs: Double = System.currentTimeMillis().toDouble
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def time[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, secs(t0)) }

  /** Run `tasks` on `threads` threads and wait for all of them. */
  def concurrently[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  def dirMb(root: String): Double = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0.0
    else Using.resource(Files.walk(p))(_.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum) / (1024.0 * 1024.0)
  }

  /** Per-pass Spark totals, named as the spark.* per-layer metrics. */
  def sparkMetrics(w: Work, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs, "spark.busy_s" -> w.busyS,
    "spark.core_util" -> (if (wallS > 0) w.busyS / (wallS * cores) else 0.0),
    "spark.gc_s" -> w.gcS, "spark.shuffle_mb" -> w.shuffleMb, "spark.spill_mb" -> w.spillMb,
    "spark.result_mb" -> w.resultMb, "spark.driver_gap_s" -> w.driverGapS(wallS),
    "spark.exchanges" -> w.exchanges, "spark.plan_kb" -> w.planKb,
    "spark.failed_tasks" -> w.failedTasks)

  /** Compare digests with the recorded ones (for the recorded seed) and
    * return the names that differ or are missing.
    */
  def mismatches(ctx: Ctx, prefix: String, got: Map[String, String]): Seq[String] =
    if (!ctx.recordedSeed || ctx.expected.isEmpty) Nil
    else got.toSeq.sortBy(_._1).collect {
      case (k, v) if !ctx.expected.get(s"$prefix/$k").contains(v) => k
    }

  // ---------------------------------------------------------------- queries

  final case class Op(name: String, run: (SparkSession, String) => DataFrame)

  /** The co-occurrence graph as directed edges in both directions. */
  private def sym(s: SparkSession, dir: String): DataFrame = {
    val und = s.read.parquet(s"$dir/cooccur")
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
  }

  private def entry(name: String): Op = Op(name, SparkEntry.queries(name))

  /** The kg_query pass: one operation per layer the pipeline does not
    * already time (it times ConnectedComponents in `canon` and Linker top-K
    * in `link`): GraphOps supersteps (walks), Dedup (dd1), Similarity with
    * the VectorOps kernels (s1), PqKernels (s8) and Eval (em3).
    */
  val queryOps: Seq[Op] = Seq(
    Op("walks", (s, d) => GraphOps.randomWalks(sym(s, d), walkLen = 3)),
    entry("dd1_minhash_lsh"),
    entry("s1_ann_brute"),
    entry("s8_ann_pq"),
    entry("em3_filtered_retrieval"))

  /** A closed loop with one client over `ops` on inputs made by `gen`.
    * Each operation runs to full materialisation through the noop sink,
    * with its digest observed on the way, and the cache registry is cleared
    * after it (as graft.Bench does) so each timing includes building the
    * operation's own caches.
    */
  def queries(ctx: Ctx, ops0: Seq[Op], gen: (SparkSession, Long, String) => Unit,
              inputRows: (SparkSession, String) => Long): Outcome = {
    val spark = ctx.spark
    val ops = ops0 ++ ctx.plant.filter(_ == "query").map(_ => Op("planted_throw",
      (_, _) => throw new IllegalStateException("planted failure")))
    val genS = (0 until 3).map { k =>
      val d = s"${ctx.work}/in$k"
      time(gen(spark, ctx.seed, d))._2
    }
    val dir = s"${ctx.work}/in0"
    val rows = inputRows(spark, dir)

    var attempted, failed = 0
    val failedOps = mutable.LinkedHashSet[String]()
    final case class OpRun(name: String, wallS: Double, digest: Option[String], work: Option[Work])
    final case class PassRun(wallS: Double, ops: Seq[OpRun], work: Option[Work], cachePeakMb: Double, writeMb: Double)

    def pass(traced: Boolean): PassRun = {
      ctx.tracer.tracing = traced
      ctx.tracer.clear()
      ctx.tracer.resetPeak()
      val shuffle0 = ctx.tracer.shuffleWrittenMb
      val passStart = nowMs
      val t0 = System.nanoTime()
      val passSpan = ctx.nextId()
      val runs = ops.map { op =>
        val opStart = nowMs
        val o0 = System.nanoTime()
        attempted += 1
        val digest = try {
          val (df, obs) = Digest.observed(op.run(spark, dir))
          df.write.format("noop").mode("overwrite").save()
          Some(Digest.result(obs))
        } catch { case e: Throwable =>
          failed += 1; failedOps += op.name
          System.err.println(s"operation ${op.name} failed: $e")
          None
        } finally spark.catalog.clearCache()
        val wallS = secs(o0)
        System.err.println(f"op ${op.name} $wallS%.3f s")
        val work = if (traced) {
          val opEnd = nowMs
          val id = ctx.nextId()
          ctx.spans += Span(id, passSpan, "op", op.name, opStart, opEnd)
          ctx.spans ++= ctx.tracer.jobSpans(opStart, opEnd, id, () => ctx.nextId())
          Some(ctx.tracer.work(opStart, opEnd))
        } else None
        OpRun(op.name, wallS, digest, work)
      }
      val wallS = secs(t0)
      val work = if (traced) {
        ctx.spans += Span(passSpan, 0, "pass", ctx.workload, passStart, nowMs)
        Some(ctx.tracer.work(passStart, nowMs))
      } else None
      PassRun(wallS, runs, work, ctx.tracer.cachePeakMb, ctx.tracer.shuffleWrittenMb - shuffle0)
    }

    // check pass: untimed, cold; its digests are the reference for the run
    val (check, coldS) = time(pass(traced = false))
    val reference = check.ops.flatMap(r => r.digest.map(r.name -> _)).toMap
    val wrong = mutable.LinkedHashSet[String]() ++ mismatches(ctx, ctx.workload, reference)
    def compare(p: PassRun): Unit = p.ops.foreach { r =>
      if (r.digest.isDefined && r.digest != reference.get(r.name)) wrong += r.name
    }
    val setupS = ctx.sessionS + median(genS) + coldS

    // timed passes: three untraced (and, when traced, two traced between
    // them), more while time is left. The cold pass is the only warm-up: a
    // fixed schedule puts every run's timed passes at the same point of the
    // JIT's progress, and waiting for a steady pass would not fit in a run.
    val minPasses = if (ctx.trace) 5 else 3
    val timed = mutable.ArrayBuffer[(Boolean, PassRun)]()
    val t0 = System.nanoTime()
    while (timed.size < minPasses || secs(t0) < ctx.seconds) {
      val traced = ctx.trace && timed.size % 2 == 1
      val p = pass(traced)
      compare(p)
      timed += traced -> p
    }
    ctx.tracer.tracing = false
    failed += wrong.size
    // a pass's time is the sum of each operation's fastest time over the
    // timed passes (graft.Bench's min-of-rounds rule): interference from a
    // GC or compile burst, or from other load on the machine, only ever
    // adds time
    def passTime(ps: Iterable[PassRun]): Double =
      ops.map(op => ps.flatMap(_.ops.find(_.name == op.name)).map(_.wallS).min).sum
    val plain = timed.filter(!_._1).map(_._2)
    val wallS = passTime(plain)

    val endToEnd = Map(
      "setup_s" -> setupS, "wall_s" -> wallS, "items_per_s" -> rows / wallS,
      "cache_peak_mb" -> median(plain.map(_.cachePeakMb)), "write_mb" -> median(plain.map(_.writeMb)))

    val traced = timed.filter(_._1).map(_._2)
    val perLayer = mutable.Map[String, Double]()
    if (traced.nonEmpty) {
      val passWall = passTime(traced)
      val perPass = traced.map(p => sparkMetrics(p.work.get, p.wallS, ctx.cores))
      perPass.head.keys.foreach(k => perLayer(k) = median(perPass.map(_(k))))
      for (op <- ops0) {
        val rs = traced.flatMap(_.ops.find(_.name == op.name))
        def m(f: OpRun => Double) = median(rs.map(f))
        perLayer(s"query.${op.name}.wall_s") = rs.map(_.wallS).min
        perLayer(s"query.${op.name}.exchanges") = m(_.work.get.exchanges.toDouble)
        perLayer(s"query.${op.name}.shuffle_mb") = m(_.work.get.shuffleMb)
        perLayer(s"query.${op.name}.jobs") = m(_.work.get.jobs.toDouble)
        perLayer(s"query.${op.name}.join_rows") = m(_.work.get.joinRows.toDouble)
      }
      perLayer("trace_overhead_s") = passWall - wallS
    }

    val report = Seq(
      f"inputs: $rows%d rows; ${ops.size}%d operations per pass: ${ops.map(_.name).mkString(" ")}",
      f"set-up: session ${ctx.sessionS}%.2f s, inputs ${median(genS)}%.2f s (median of 3), cold check pass $coldS%.2f s",
      f"timed passes: ${plain.size}%d untraced ${plain.map(p => f"${p.wallS}%.3f").mkString(" ")}" +
        (if (traced.nonEmpty) f", ${traced.size}%d traced ${traced.map(p => f"${p.wallS}%.3f").mkString(" ")}" else "")) ++
      wrong.toSeq.map(n => s"WRONG OUTPUT: $n") ++ failedOps.toSeq.map(n => s"FAILED: $n")
    Outcome(attempted, failed, endToEnd, perLayer.toMap, reference, report)
  }

  // --------------------------------------------------------------- pipeline

  val BuildStages = Seq("ingest", "harvest", "harvest_ids", "textify", "mentions", "link",
    "docs", "triples", "canon", "materialize")

  /** Stage end times read from outside the program: the pages table's new
    * manifest commit ends `ingest`, each `_stages/<stage>@<snap>` marker
    * ends its stage; a stage starts where the one before it ended.
    */
  private def stageEnds(root: String, pagesSnap: Long, prefix: String): Seq[(String, Double)] = {
    def mtime(p: Path) = Files.getLastModifiedTime(p).toMillis.toDouble
    val markers = Using.resource(Files.list(Paths.get(root, "_stages")))(_.iterator().asScala.toList)
    ("ingest" -> mtime(Paths.get(root, "pages", "_manifests", s"v$pagesSnap.json"))) +:
      BuildStages.tail.map { s =>
        val name = prefix + s
        s -> markers.filter(_.getFileName.toString.startsWith(name + "@")).map(mtime)
          .sorted.lastOption.getOrElse(Double.NaN)
      }
  }

  private def lineageRows(spark: SparkSession, root: String): Long =
    if (Files.exists(Paths.get(root, "_lineage"))) spark.read.parquet(s"$root/_lineage").count() else 0L

  /** One traced ingest: spans per stage and per job, and the stage metrics
    * under `layer.<stage>.*`.
    */
  private def stageMetrics(ctx: Ctx, root: String, opSpan: Int, opStart: Double, opEnd: Double,
                           pagesSnap: Long, stagePrefix: String, layer: String,
                           keys: Seq[String]): (Map[String, Double], Seq[String]) = {
    val ends = stageEnds(root, pagesSnap, stagePrefix)
    var start = opStart
    val out = mutable.LinkedHashMap[String, Double]()
    val problems = mutable.ArrayBuffer[String]()
    for ((stage, end) <- ends) {
      if (end.isNaN) problems += s"no marker for $stagePrefix$stage"
      val e = if (end.isNaN) start else end
      val id = ctx.nextId()
      ctx.spans += Span(id, opSpan, "stage", stagePrefix + stage, start, e)
      ctx.spans ++= ctx.tracer.jobSpans(start, e, id, () => ctx.nextId())
      val w = ctx.tracer.work(start, e)
      val wallS = (e - start) / 1e3
      val all = Map("wall_s" -> wallS, "busy_s" -> w.busyS, "shuffle_mb" -> w.shuffleMb,
        "driver_gap_s" -> w.driverGapS(wallS))
      keys.foreach(k => out(s"$layer.$stage.$k") = all(k))
      start = e
    }
    val sum = BuildStages.map(s => out(s"$layer.$s.wall_s")).sum
    if (sum > (opEnd - opStart) / 1e3 + 1e-3)
      problems += f"stage wall_s sum $sum%.3f exceeds the operation's ${(opEnd - opStart) / 1e3}%.3f s"
    (out.toMap, problems.toSeq)
  }

  /** Digests of every pipeline table, and checks that hold for any seed. */
  private def checkTables(ctx: Ctx, p: KgPipeline, pages: Long): (Map[String, String], Seq[String]) = {
    val spark = ctx.spark
    // the digests run concurrently: each is a small job over a bucketed table
    val digests = concurrently(ctx.cores)(p.tables.map(t =>
      () => Paths.get(t.path).getFileName.toString -> Digest.of(t.read()))).toMap
    def rows(t: String) = digests(t).takeWhile(_ != ':').toLong
    val problems = mutable.ArrayBuffer[String]()
    digests.foreach { case (t, d) => if (d.startsWith("0:")) problems += s"table $t is empty" }
    if (rows("pages") != pages) problems += s"pages holds ${rows("pages")} rows, the input had $pages"
    val enLabels = p.labelsTbl.read().filter(col("lang") === "en").count()
    if (rows("nodes") != enLabels) problems += s"nodes holds ${rows("nodes")} rows, en labels $enLabels"
    val badRank = p.linksTbl.read().filter(col("rank") < 1 || col("rank") > 5).count()
    if (badRank > 0) problems += s"$badRank links rank outside 1..5"
    (digests, problems.toSeq)
  }

  /** kg_build: one KgPipeline.ingest(corpus, delta = false) on an empty
    * root in a fresh JVM, as RunPipeline deploys it. A traced run then
    * ingests a crawl-2 batch with delta = true into the built root.
    */
  def kgBuild(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // the corpus is generated into memory once (a fresh JVM per run leaves
    // nothing else to set up); the ingest reads the cached pages
    val corpus = Inputs.corpus(spark, ctx.seed).persist()
    val (pages, genS) = time(corpus.count())
    val setupS = ctx.sessionS + genS

    val root = s"${ctx.work}/kg"
    val failAfter = ctx.plant.filter(_ != "query")
    val p = new KgPipeline(spark, root, failAfterStage = failAfter)
    ctx.tracer.tracing = ctx.trace
    ctx.tracer.clear()
    ctx.tracer.resetPeak()
    val shuffle0 = ctx.tracer.shuffleWrittenMb
    val opStart = nowMs
    val t0 = System.nanoTime()
    val ok = try { p.ingest(corpus, delta = false); true } catch { case e: Throwable =>
      System.err.println(s"operation kg_build failed: $e"); false
    }
    val wallS = secs(t0)
    val opEnd = nowMs
    ctx.tracer.tracing = false
    val cachePeak = ctx.tracer.cachePeakMb
    val writeMb = ctx.tracer.shuffleWrittenMb - shuffle0 + dirMb(root)

    var attempted = 1
    var failed = if (ok) 0 else 1
    val report = mutable.ArrayBuffer[String](
      f"corpus: $pages%d pages (seeded selection of ${Inputs.CrawlPages}%d crawl-1 pages plus property pages)",
      f"set-up: session ${ctx.sessionS}%.2f s, corpus $genS%.2f s",
      f"build: $wallS%.3f s")
    var digests = Map.empty[String, String]
    if (ok) {
      val (d, problems) = checkTables(ctx, p, pages)
      digests = d.map { case (k, v) => s"build/$k" -> v }
      val wrong = mismatches(ctx, "kg_build", digests) ++ problems
      if (wrong.nonEmpty) { failed += 1; report ++= wrong.map("WRONG OUTPUT: " + _) }
    }

    val perLayer = mutable.Map[String, Double]()
    if (ctx.trace && ok) {
      val opSpan = ctx.nextId()
      ctx.spans += Span(opSpan, 0, "op", "kg_build", opStart, opEnd)
      val buildLineage = lineageRows(spark, root)
      val (stages, problems) = stageMetrics(ctx, root, opSpan, opStart, opEnd, 1L, "", "stage",
        Seq("wall_s", "busy_s", "shuffle_mb", "driver_gap_s"))
      perLayer ++= stages
      perLayer ++= sparkMetrics(ctx.tracer.work(opStart, opEnd), wallS, ctx.cores)
      perLayer("lineage.build_rows") = buildLineage.toDouble

      // the delta ingest, traced the same way
      val batch = Inputs.deltaBatch(spark, ctx.seed).persist()
      val batchPages = batch.count()
      ctx.tracer.tracing = true
      ctx.tracer.clear()
      val dStart = nowMs
      val d0 = System.nanoTime()
      attempted += 1
      val dOk = try { p.ingest(batch, delta = true); true } catch { case e: Throwable =>
        System.err.println(s"operation kg_delta failed: $e"); false
      }
      val dWall = secs(d0)
      val dEnd = nowMs
      ctx.tracer.tracing = false
      perLayer("delta.wall_s") = dWall
      if (dOk) {
        val dSpan = ctx.nextId()
        ctx.spans += Span(dSpan, 0, "op", "kg_delta", dStart, dEnd)
        val (dStages, dProblems) = stageMetrics(ctx, root, dSpan, dStart, dEnd, 2L, "delta_", "delta",
          Seq("wall_s", "busy_s", "shuffle_mb", "driver_gap_s"))
        perLayer ++= dStages
        perLayer("lineage.delta_rows") = (lineageRows(spark, root) - buildLineage).toDouble
        val (d, tableProblems) = checkTables(ctx, p, pages + batch.join(corpus, Seq("url"), "left_anti").count())
        val dd = d.map { case (k, v) => s"delta/$k" -> v }
        digests ++= dd
        val wrong = mismatches(ctx, "kg_build", dd) ++ tableProblems ++ dProblems ++ problems
        if (wrong.nonEmpty) { failed += 1; report ++= wrong.map("WRONG OUTPUT: " + _) }
        report += f"delta: $batchPages%d crawl-2 pages, $dWall%.3f s = ${dWall / wallS}%.3f of the build"
        report += "stage                delta/full wall_s"
        BuildStages.foreach { s =>
          val full = perLayer(s"stage.$s.wall_s"); val dl = perLayer(s"delta.$s.wall_s")
          report += f"  $s%-18s ${if (full > 0) dl / full else Double.NaN}%.3f  ($dl%.3f s / $full%.3f s)"
        }
        report += f"_lineage rows written: build ${buildLineage}%d, delta ${perLayer("lineage.delta_rows").toLong}%d"
      } else failed += 1
    }

    val endToEnd = Map("setup_s" -> setupS, "wall_s" -> wallS, "items_per_s" -> pages / wallS,
      "cache_peak_mb" -> cachePeak, "write_mb" -> writeMb)
    Outcome(attempted, failed, endToEnd, perLayer.toMap, digests, report.toSeq)
  }
}
