package graft.pipeline

import graft.canon.ConnectedComponents
import graft.link.{Embedder, Linker}
import graft.model.WikidataJson
import graft.tables.{Checkpoints, Lineage, MergeTable}
import graft.triples.Triples
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG construction over the pages corpus (north_star / SURVEY.md
  * §7.1): extract → harvest → textify → mention → link → triples →
  * canonicalize → materialize nodes/edges/triples, every stage checkpointed
  * with per-partition lineage rows and MERGE-idempotent writes so a killed
  * job resumes exactly (stage markers keyed by input snapshot).
  *
  * One stage chain serves the full build (`run`, `ingest(_, delta = false)`)
  * and the delta ingest (`ingest(_, delta = true)`); the modes differ in
  * their input pages, stage names and marker keys, plus two delta-only
  * steps: batch-restricted texts/mentions reads and the id-flag OR-fold
  * (see `chain`). Every stage goes through one helper that caches its
  * frame in a [[Checkpoints.scoped]] scope, so a stage that throws leaves
  * no cache behind.
  *
  * Wide operations, by stage:
  *  - harvest:  groupBy(id) (S7 OR-merge agg) — one shuffle
  *  - textify:  gather-join on (url, ref) — shuffle O(#references)
  *  - link:     equi-join mention→entity vec + top-K window
  *  - triples:  label joins (broadcast PID dim + shuffle subject/value)
  *  - canon:    iterative CC self-joins
  * Everything else is narrow and pipelines into the scan.
  */
/** @param retention when set, every successful `run`/`ingest` ends with
  *   [[expireHistory]]`(keepLast = retention.get)` — the storage-bound
  *   mode for incremental deployments. Opt-in (None keeps full history)
  *   because expiry trades time travel into reclaimed snapshots away.
  */
final class KgPipeline(spark: SparkSession, root: String,
                       nPages: Long = 2000, linkK: Int = 5,
                       failAfterStage: Option[String] = None,
                       mentionBudgetChars: Long = Linker.DefaultBroadcastBudgetChars,
                       aliasEdgeMaxIds: Option[Int] = None,
                       retention: Option[Int] = None) {
  import spark.implicits._

  // fail at construction, not after a full run: the expiry sweep's own
  // require(keepLast >= 1) would otherwise fire only during the run-end
  // maintenance pass, throwing away a completed pipeline's worth of work
  require(retention.forall(_ >= 1),
    s"retention must be >= 1 when set, got ${retention.get}")

  val pagesTbl = new MergeTable(spark, s"$root/pages", Seq("url"))
  // NOTE: keyed (id, lang) since the per-language label dimension landed —
  // a `labels` table written by the earlier id-keyed layout is NOT readable
  // in place (different bucket hashing + schema). MergeTable.validateLayout
  // enforces this: a mismatched OR unstamped on-disk bucketCols is a hard
  // error, so pointing new code at a legacy root fails fast instead of
  // silently mis-bucketing merges.
  val labelsTbl = new MergeTable(spark, s"$root/labels", Seq("id", "lang"))
  val idFlagsTbl = new MergeTable(spark, s"$root/id_flags", Seq("id"))
  // per-page tables are SCOPED by their page: re-processing a page REPLACES
  // all of its rows, so outputs that shrink (fewer mentions/chunks/triples
  // after an edit) shed their stale rows instead of merging around them
  val textsTbl = new MergeTable(spark, s"$root/texts", Seq("url"),
    scopeCols = Some(Seq("url")))
  val mentionsTbl = new MergeTable(spark, s"$root/mentions", Seq("url", "begin", "qid"),
    scopeCols = Some(Seq("url")))
  val linksTbl = new MergeTable(spark, s"$root/links", Seq("url", "begin", "rank"),
    scopeCols = Some(Seq("url")))
  val triplesTbl = new MergeTable(spark, s"$root/triples", Seq("uuid"),
    scopeCols = Some(Seq("qid")))
  val docsTbl = new MergeTable(spark, s"$root/docs", Seq("doc_id"),
    scopeCols = Some(Seq("qid")))
  val vecsTbl = new MergeTable(spark, s"$root/entity_vecs", Seq("id"),
    scopeCols = Some(Seq("id")))
  val sameAsTbl = new MergeTable(spark, s"$root/sameas", Seq("src", "dst"),
    scopeCols = Some(Seq("src")))
  // derived global artifacts are recomputed wholesale -> replace, not merge
  val canonTbl = new MergeTable(spark, s"$root/canon", Seq("id"))
  val nodesTbl = new MergeTable(spark, s"$root/nodes", Seq("id"))
  val edgesTbl = new MergeTable(spark, s"$root/edges", Seq("src", "dst", "kind"))
  val lineage = new Lineage(spark, root)

  private def checkFail(stage: String): Unit =
    if (failAfterStage.contains(stage))
      throw new RuntimeException(s"injected failure after stage $stage")

  /** One stage: unless `name@key` already committed, build `frame` (by
    * name, so a resumed stage skips its side effects too), cache it across
    * `write` (the MERGE, scoped MERGE or replace) and the lineage capture,
    * and release it when the stage ends or throws. Returns the output
    * snapshot.
    */
  private def stage(name: String, key: Long)(frame: => DataFrame)(write: DataFrame => Long): Long = {
    val out = lineage.runStage(name, key) {
      Checkpoints.scoped { cache =>
        val t0 = System.nanoTime()
        val df = cache(frame)
        val snap = write(df)
        lineage.capture(name, key, df, (System.nanoTime() - t0) / 1000000)
        snap
      }
    }
    checkFail(name)
    out
  }

  /** Run (or resume) the pipeline; returns the triples snapshot id. */
  def run(): Long = {
    // stage: ingest — the corpus lands as a MERGE table (idempotent by url)
    val pagesSnap = stage("ingest", 0L)(PagesGen.pages(spark, nPages))(pagesTbl.merge)
    finish(chain(pagesSnap, pagesTbl.read(), delta = false))
  }

  /** Incremental ingest: MERGE a batch of new/changed pages (upsert by url)
    * and run the downstream stages against the new pages snapshot (stage
    * markers are per input snapshot, so the chain executes exactly once).
    *
    * `delta = false` (exactness mode): every derived stage recomputes over
    * the merged corpus; MERGE-upserts converge — unchanged rows rewrite to
    * identical values (deterministic ids), changed/new rows update in place.
    *
    * `delta = true` (10^12-scale mode): per-page stages (textify, mentions,
    * link, docs, triples) process ONLY the batch's pages and MERGE their
    * rows; global artifacts (id-flag OR-merge, canonicalization, edges)
    * update from the materialized tables, never by re-reading the corpus.
    * Contract: per-page outputs of untouched pages are left as-is — a label
    * added by this batch starts matching in pages processed from now on
    * (exactly the reference's two-pass semantics, where the dictionary is
    * frozen before stage 3), and links cached against an entity whose text
    * this batch changed refresh only when their page is next touched.
    */
  def ingest(newPages: org.apache.spark.sql.DataFrame, delta: Boolean = false): Long = {
    val pagesSnap = pagesTbl.merge(newPages)
    finish(chain(pagesSnap, if (delta) newPages else pagesTbl.read(), delta))
  }

  private def finish(triplesSnap: Long): Long = {
    retention.foreach(expireHistory(_))
    triplesSnap
  }

  /** All of the pipeline's tables, for maintenance sweeps. */
  def tables: Seq[MergeTable] = Seq(pagesTbl, labelsTbl, idFlagsTbl, textsTbl,
    mentionsTbl, linksTbl, triplesTbl, docsTbl, vecsTbl, sameAsTbl,
    canonTbl, nodesTbl, edgesTbl)

  /** Run-end table maintenance: expire every table's snapshot history down
    * to its newest `keepLast` manifests (reachability GC —
    * [[MergeTable.expireSnapshots]]). Safe AFTER a successful run: every
    * stage reads tables at their CURRENT snapshot (stage markers gate on
    * ids, not on historical reads), and the current snapshot always
    * survives — only time travel into reclaimed history is lost. Without
    * this sweep an incremental deployment grows by its churn rate forever.
    * Returns (expired manifests, deleted snapshot dirs) across all tables.
    */
  def expireHistory(keepLast: Int = 2): (Int, Int) = {
    val results = tables.filter(_.exists).map(_.expireSnapshots(keepLast))
    (results.map(_._1.size).sum, results.map(_._2.size).sum)
  }

  /** The derived stages over `pages`, which the pages table holds as of
    * `pagesSnap`; returns the triples snapshot.
    *
    * Full mode (`pages` = the whole table) keys each stage's marker by its
    * upstream table's snapshot. Delta mode (`pages` = the batch) names each
    * stage `delta_<stage>` and keys it by `pagesSnap`; its per-page stages
    * read only the batch's texts and mentions, and harvest_ids folds in the
    * existing flags of the batch's ids. No delta stage re-reads or re-parses
    * the corpus: an increment costs O(batch) work plus the (edge-set-sized)
    * canonicalization, never O(corpus).
    */
  private def chain(pagesSnap: Long, pages: DataFrame, delta: Boolean): Long =
    Checkpoints.scoped { cache =>
      def step(name: String, upstream: Long)(frame: => DataFrame)(write: DataFrame => Long) =
        if (delta) stage(s"delta_$name", pagesSnap)(frame)(write)
        else stage(name, upstream)(frame)(write)
      def ofBatch(df: DataFrame) =
        if (delta) df.join(pages.select("url"), Seq("url"), "left_semi") else df
      def enLabels = labelsTbl.read().filter(col("lang") === "en")

      // lazy: a resumed run whose stages are all marked done never builds
      // (or caches) these
      lazy val payloads = cache(TextifyStage.payloads(spark, pages))
      // one gather-join feeds BOTH textify and docs (the two renderers
      // resolve the same (url → label map) frame); caching it halves the
      // pipeline's biggest shuffle (refs explode + label join + per-url regroup)
      lazy val resolved = cache(TextifyStage.withLabelMaps(
        spark, gatePayloads(payloads), labelsTbl.read()))

      // harvest — per-language label dimension (id, lang, label,
      // is_property, aliases) from the corpus itself: the reference
      // normalizes the whole DB once per LANGUAGE (src/wikidataDB.py:126-148)
      val labelsSnap = step("harvest", pagesSnap)(
        TextifyStage.harvestLabels(spark, payloads))(labelsTbl.merge)

      // harvest_ids — P1 explode + S7 OR-merge aggregation
      step("harvest_ids", pagesSnap) {
        val flags = payloads
          .flatMap(pp => WikidataJson.parseLine(pp.payload).toSeq.flatMap(WikidataJson.extractEntityIds(_, "en")))
          .toDF("id", "in_wikipedia", "is_property")
        // delta: fold in the existing flags of just the touched ids
        // (semi-join), so a true flag never regresses to false across
        // batches (readOrEmpty: a delta ingest may be the root's first-ever
        // operation)
        val all = if (!delta) flags else flags.unionByName(idFlagsTbl.readOrEmpty(flags)
          .join(flags.select("id").distinct(), Seq("id"), "left_semi"))
        all.groupBy("id")
          .agg(max("in_wikipedia").as("in_wikipedia"), max("is_property").as("is_property"))
      }(idFlagsTbl.merge)

      // textify — byte-identical extracted text per url (gated)
      val textsSnap = step("textify", labelsSnap)(
        TextifyStage.renderResolved(spark, resolved))(textsTbl.mergeScoped(_, urlScope(pages)))

      // mentions — Aho-Corasick over the label+alias trie, built via the
      // size-guarded sharded path (single broadcast while the dictionary
      // fits, hash-sharded multi-pass beyond the budget — never an
      // unguarded full-dimension collect)
      val mentionsSnap = step("mentions", textsSnap)(
        Linker.mentionsSharded(spark, ofBatch(textsTbl.read()), mentionDict(),
          broadcastBudgetChars = mentionBudgetChars))(mentionsTbl.mergeScoped(_, urlScope(pages)))

      // link — batched stand-in embeddings + cosine top-K per mention.
      // Entity vectors persist in their own MERGE table so delta ingests
      // embed only touched pages, never the whole corpus.
      step("link", mentionsSnap) {
        vecsTbl.mergeScoped(Embedder.embedDataset(
          ofBatch(textsTbl.read()).select("id", "text").as[(String, String)]).toDF("id", "vec"),
          idScope(pages, "id"))
        Linker.link(spark, ofBatch(mentionsTbl.read()), vecsTbl.read(), linkK)
      }(linksTbl.mergeScoped(_, urlScope(pages)))

      // docs — token-budget chunking + batched embedding into the
      // vector-document table, deterministic _id = qid_lang_chunkIdx (the
      // reference's stage 3: docker/3_Add_Wikidata_to_AstraDB/run.py:65-93,
      // chunk T6, sink S8 — upsert by _id replaces the infinite-retry push).
      // Label resolution is the gather-join (renderChunks), not a driver
      // collect of the label dimension.
      step("docs", textsSnap) {
        val chunks = TextifyStage.renderChunksResolved(spark, resolved, maxTokens = 120)
        Embedder.embedDataset(
          chunks.select("doc_id", "text").as[(String, String)]).toDF("doc_id", "vec")
          .join(chunks, Seq("doc_id"))
      }(docsTbl.mergeScoped(_, idScope(pages, "qid")))

      // triples — statement extraction with label-resolution joins
      val triplesSnap = step("triples", labelsSnap)(
        Triples.fromLines(spark, payloads.map(_.payload), enLabels.select("id", "label")))(
        triplesTbl.mergeScoped(_, idScope(pages, "qid")))

      // canon — CC over sameAs edges, canonical = min id per component.
      // Edges land in their own MERGE table first, so delta ingests extend
      // the edge set without re-parsing the corpus; CC then runs over the
      // (small) edge+node tables — O(graph), not O(corpus).
      val canonSnap = step("canon", triplesSnap) {
        sameAsTbl.mergeScoped(sameAsEdges(payloads), idScope(pages, "src"))
        // optional alias-identity candidate edges (north-star "alias/sameAs
        // edges"): gated + chained, see AliasEdges; off by default because
        // shared-surface identity is a policy choice, not dump semantics
        val edges = aliasEdgeMaxIds.fold(sameAsTbl.read()) { maxIds =>
          sameAsTbl.read().unionByName(
            graft.canon.AliasEdges.edges(labelsTbl.read(), maxIds = maxIds))
        }
        ConnectedComponents.run(spark, edges, enLabels.select("id"))
          .withColumnRenamed("component", "canonical")
      }(canonTbl.replace)

      // materialize — nodes + edges with canonical ids rewritten, fully
      // table-driven
      step("materialize", canonSnap) {
        val canon = canonTbl.read()
        val linkEdges = linksTbl.read().filter(col("rank") === 1)
          .join(textsTbl.read().select(col("url"), col("id").as("src")), Seq("url"))
          .select(col("src"), col("qid").as("dst"), lit("mentions").as("kind"))
        val sameAs = sameAsTbl.read().withColumn("kind", lit("sameAs"))
        val canonSrc = canon.select(col("id").as("src"), col("canonical").as("src_canon"))
        val canonDst = canon.select(col("id").as("dst"), col("canonical").as("dst_canon"))
        linkEdges.unionByName(sameAs)
          .join(canonSrc, Seq("src"), "left")
          .join(canonDst, Seq("dst"), "left")
          .select(
            coalesce(col("src_canon"), col("src")).as("src"),
            coalesce(col("dst_canon"), col("dst")).as("dst"),
            col("kind"))
          .filter(col("src") =!= col("dst"))
          .distinct()
      } { edges =>
        nodesTbl.replace(enLabels
          .join(canonTbl.read(), Seq("id"), "left")
          .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"),
            col("label"), col("is_property")))
        edgesTbl.replace(edges)
      }

      triplesSnap
    }

  /** The J4 driving gate: only in_wikipedia entities are textified/chunked,
    * exactly the reference's stage-3 driving scan
    * (docker/3_Add_Wikidata_to_AstraDB/run.py:61). url=…/wiki/{id} is the
    * pages contract, so the gate is an equi-semi-join on the trailing id.
    */
  private def gatePayloads(payloads: org.apache.spark.sql.Dataset[PagePayload])
      : org.apache.spark.sql.Dataset[PagePayload] = {
    val inWiki = idFlagsTbl.read().filter(col("in_wikipedia")).select(col("id").as("_gid"))
    payloads
      .joinWith(inWiki, substring_index(payloads("url"), "/", -1) === col("_gid"), "inner")
      .map(_._1)
  }

  /** Processed-scope frames: EVERY page in `pages` counts as processed, so
    * a scope-replace merge deletes rows of pages that yielded nothing this
    * time (gated out, unparseable, or simply shrunken output). The id is the
    * url's trailing segment per the pages contract.
    */
  private def urlScope(pages: DataFrame): DataFrame = pages.select(col("url"))
  private def idScope(pages: DataFrame, as: String): DataFrame =
    pages.select(substring_index(col("url"), "/", -1).as(as))

  /** (surface → candidate ids) for the mention trie, from the en label dim. */
  private def mentionDict(): DataFrame =
    labelsTbl.read().filter(!col("is_property") && col("lang") === "en")
      .select(col("id"), explode(array_union(array(col("label")), col("aliases"))).as("surface"))
      .filter(length(col("surface")) > 0)
      .groupBy("surface").agg(collect_list("id").as("ids"))

  private def sameAsEdges(payloads: org.apache.spark.sql.Dataset[PagePayload]): DataFrame = {
    payloads
      .flatMap(pp => WikidataJson.parseLine(pp.payload).toSeq.flatMap(WikidataJson.toClaimRows(_, "en")))
      .filter(r => r.pid == PagesGen.sameAsPid && r.isQidValue)
      .map(r => (r.qid, r.valueScalar)).toDF("src", "dst")
  }
}
