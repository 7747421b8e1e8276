package perfbench

import graft.pipeline.PagesGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Every input the workloads read, made from the workload seed alone. */
object Inputs {

  /** Pages generated per crawl; the seed selects about half of them. */
  val CrawlPages = 4000L

  /** Keep a page when its seeded hash falls under `pct` percent. */
  private def seeded(seed: Long, pct: Int) =
    pmod(xxhash64(col("url"), lit(seed)), lit(100)) < pct

  /** kg_build corpus: a seeded half of the crawl-1 item pages, plus every
    * property page (the label dimension of properties is always needed).
    */
  def corpus(spark: SparkSession, seed: Long): DataFrame =
    PagesGen.pages(spark, CrawlPages, partitions = 8)
      .filter(seeded(seed, 50) || col("url").rlike("/wiki/P[0-9]+$"))

  /** Delta batch: a seeded selection of crawl-2 pages, which holds all three
    * change families (revised value, new sameAs edge, unchanged re-serve).
    */
  def deltaBatch(spark: SparkSession, seed: Long): DataFrame =
    PagesGen.pagesDelta(spark, CrawlPages, partitions = 8).filter(seeded(seed + 7, 40))

  /** kg_query inputs, written concurrently (each is one small Spark job):
    *  - cooccur: a skewed undirected co-occurrence graph (preferential
    *    attachment, so a few hubs carry many edges) for the superstep loops;
    *  - documents.parquet: word-salad documents, every 5th a light edit of an
    *    earlier one, for minhash dedup;
    *  - embeddings.parquet: 64-dim vectors around ten labelled centroids, so
    *    retrieval finds real neighbours.
    */
  def query(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)

    val nodes = 800
    def q(i: Int) = f"Q${100000 + i}%d"
    val targets = scala.collection.mutable.ArrayBuffer[Int](0, 1, 2)
    val und = scala.collection.mutable.LinkedHashMap[(Int, Int), Long]()
    for (i <- 3 until nodes) {
      for (_ <- 0 until 3) {
        val j = targets(rnd.nextInt(targets.size))
        if (j != i) und((math.min(i, j), math.max(i, j))) = 1L + rnd.nextInt(5)
      }
      targets += i; targets += targets(rnd.nextInt(targets.size))
    }
    val cooccur = und.toSeq.map { case ((a, b), w) => (q(a), q(b), w) }.toDF("a", "b", "w")

    val words = Vector("spark", "graph", "node", "edge", "query", "index", "table",
      "vector", "label", "entity", "page", "link", "merge", "batch", "stream",
      "window", "join", "sort", "hash", "scan", "row", "column", "key", "value")
    val langs = Vector("en", "de", "fr", "es", "zh")
    val base = (0 until 400).map(_ => Seq.fill(20 + rnd.nextInt(40))(words(rnd.nextInt(words.size))))
    val documents = base.zipWithIndex.map { case (ws, i) =>
      val text = if (i % 5 == 4) {
        val src = base(rnd.nextInt(i)).toArray
        src(rnd.nextInt(src.length)) = words(rnd.nextInt(words.size))
        src.mkString(" ")
      } else ws.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    val dim = 64
    val centroids = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    val embeddings = (0 until 600).map { i =>
      val label = rnd.nextInt(10)
      (i.toLong, centroids(label).map(c => c + 0.9f * rnd.nextGaussian().toFloat), label)
    }.toDF("vec_id", "embedding", "label")

    Workloads.concurrently(3)(Seq("cooccur" -> cooccur, "documents.parquet" -> documents,
      "embeddings.parquet" -> embeddings).map { case (name, df) =>
      () => df.coalesce(1).write.parquet(s"$dir/$name") })
  }
}
