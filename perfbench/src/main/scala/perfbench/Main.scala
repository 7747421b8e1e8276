package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE [--expected FILE] [--record] [--plant STAGE|query]`.
  * Writes the measured metrics, op counts and report lines to `--out` as
  * JSON (run.py prints them); traced runs also write their spans next to it.
  */
object Main {
  val DefaultSeed = 1L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val work = args("work")
    val out = args("out")
    val expectedFile = args.get("expected")
    val mapper = new ObjectMapper()
    val expected: Map[String, String] = expectedFile.filter(f => Files.exists(Paths.get(f))).map { f =>
      mapper.readTree(Files.readString(Paths.get(f))).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    // a recording run has nothing to compare against yet
    val compareTo = if (args.contains("record")) Map.empty[String, String] else expected
    val ctx = Ctx(spark, tracer, workload, seed, args("seconds").toDouble, args("trace") == "1",
      work, cores, Workloads.secs(t0), compareTo, args.get("plant"))

    val outcome = workload match {
      case "kg_build" => Workloads.kgBuild(ctx)
      case "kg_query" => Workloads.queries(ctx, Workloads.queryOps, Inputs.query,
        (s, d) => Seq("cooccur", "documents.parquet", "embeddings.parquet")
          .map(t => s.read.parquet(s"$d/$t").count()).sum)
      case other => sys.error(s"unknown workload $other")
    }
    spark.stop()

    val node = mapper.createObjectNode()
    node.put("attempted", outcome.attempted)
    node.put("failed", outcome.failed)
    val e2e = node.putObject("end_to_end")
    outcome.endToEnd.toSeq.sortBy(_._1).foreach { case (k, v) => e2e.put(k, v) }
    val layer = node.putObject("per_layer")
    outcome.perLayer.toSeq.sortBy(_._1).foreach { case (k, v) => layer.put(k, v) }
    val report = node.putArray("report")
    outcome.report.foreach(report.add)
    Files.writeString(Paths.get(out), mapper.writeValueAsString(node))

    if (ctx.trace) {
      val lines = ctx.spans.sortBy(_.startMs).map { s =>
        val o = mapper.createObjectNode()
        o.put("id", s.id); o.put("parent", s.parent); o.put("kind", s.kind); o.put("name", s.name)
        o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
        s.attrs.foreach { case (k, v) => o.put(k, v) }
        mapper.writeValueAsString(o)
      }
      Files.write(Paths.get(out.stripSuffix(".json") + ".spans.jsonl"), lines.asJava)
    }
    if (args.contains("record")) {
      val merged = expected ++ outcome.digests.map { case (k, v) => s"$workload/$k" -> v }
      val o = mapper.createObjectNode()
      merged.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      Files.writeString(Paths.get(expectedFile.get),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o) + "\n")
    }
  }
}
