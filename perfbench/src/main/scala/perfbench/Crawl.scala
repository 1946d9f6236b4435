package perfbench

import scala.jdk.CollectionConverters._

import graft.ops.{Components, CorpusPipeline, Dedup, Retrieval, TextAnalysis, WebCorpus}
import graft.sources.{Layout, Warc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl to searchable: gzipped WARC pages → `fromWarc` → `curatedDocs`
  * → stored doc, MinHash-band, token, BM25-postings and cluster indexes,
  * then append batches probed against the stored bands
  * (`incrementalNearDupsFromIndex`) and merged into the cluster map
  * (`mergeClusterIndex`) before their rows are appended to every index.
  */
object Crawl {

  /** Every language the identifier can name for the generated pages
    * (kanji-heavy Japanese can read as `zh`); the gate keeps them all.
    */
  val Langs: Set[String] = Set("en", "de", "fr", "es", "it", "pt", "nl", "pl", "tr",
    "fi", "ro", "ru", "el", "ja", "zh")
  val K = 64
  val Bands = 8
  val Threshold = 0.8
  val Buckets = 8

  private def curated(run: Run, dir: String): DataFrame = run.trace.span("ops.build") {
    CorpusPipeline.curatedDocs(CorpusPipeline.fromWarc(run.spark, dir, "*.warc.gz"),
      minhashK = K, bands = Bands, jaccard = Threshold, langs = Langs)
  }

  def run(run: Run): Unit = {
    val spark = run.spark
    val t = run.trace
    run.op("op.build", refresh = false) {
      val docs = curated(run, s"${run.in}/crawl")
      t.span("sources.write")(Layout.replaceBucketed(spark, docs, run.table("docs"), "doc_id", Buckets))
      val store = Layout.table(spark, run.table("docs"))
      val bands = t.span("ops.build")(Dedup.lshBands(store, "doc_id", "text", K, Bands))
      t.span("sources.write")(Layout.replaceBucketed(spark, bands, run.table("bands"), "band_hash", Buckets))
      val toks = t.span("ops.build")(Dedup.tokenIndex(store, "doc_id", "text"))
      t.span("sources.write")(Layout.replaceTable(spark, toks, run.table("toks")))
      val postings = t.span("ops.build")(Retrieval.bm25Postings(store, "doc_id", "text"))
      t.span("sources.write")(Layout.replaceBucketed(spark, postings, run.table("postings"), "term", Buckets))
      val pairs = t.span("ops.build")(
        Dedup.minhashNearDups(store, "doc_id", "text", K, Bands, Threshold))
      t.span("ops.cluster")(Components.writeClusterIndex(spark, store, "doc_id", pairs,
        "id_a", "id_b", run.table("clusters"), Buckets))
    }
    val batches = Main.readJson(s"${run.in}/expected.json").get("batches").asInt
    (0 until batches).foreach { b =>
      run.op(s"op.append.$b", refresh = true) {
        // The batch is read three times below; keep one curated copy.
        val docs = curated(run, s"${run.in}/batch$b")
        val kept = t.span("ops.build")(docs.localCheckpoint())
        val cross = t.span("ops.build")(Dedup.incrementalNearDupsFromIndex(kept, "doc_id", "text",
          Layout.table(spark, run.table("bands")), Layout.table(spark, run.table("toks")), K, Bands, Threshold)
          .localCheckpoint())
        val internal = t.span("ops.build")(
          Dedup.minhashNearDups(kept, "doc_id", "text", K, Bands, Threshold))
        t.span("ops.cluster")(Components.mergeClusterIndex(spark, run.table("clusters"), kept, "doc_id",
          internal, "id_a", "id_b", cross, "batch_id", "index_id", Buckets))
        t.span("sources.write") {
          Layout.appendBucketed(kept, run.table("docs"), "doc_id", Buckets)
          Layout.appendBucketed(Dedup.lshBands(kept, "doc_id", "text", K, Bands),
            run.table("bands"), "band_hash", Buckets)
          Layout.appendTable(Dedup.tokenIndex(kept, "doc_id", "text"), run.table("toks"))
          Layout.appendBucketed(Retrieval.bm25Postings(kept, "doc_id", "text"),
            run.table("postings"), "term", Buckets)
          Seq("docs", "bands", "toks", "postings").foreach(n => Layout.refresh(spark, run.table(n)))
        }
      }
    }
    run.afterwards(check(run))
    if (run.traced) run.afterwards(traceExtras(run))
  }

  /** Each planted duplicate group keeps exactly its smallest-id page;
    * every index holds exactly the kept pages; every append's near
    * copies share one cluster with the page they copy, labelled by the
    * smallest id among them.
    */
  private def check(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val pages = Main.readJson(s"${run.in}/expected.json").get("pages").elements().asScala.toSeq
    case class Page(url: String, file: String, role: String, group: String, batch: Int)
    val ps = pages.map(p => Page(p.get("url").asText, p.get("file").asText, p.get("role").asText,
      if (p.get("group").isNull) null else p.get("group").asText, p.get("batch").asInt))
    // Doc ids are the documented url+file hash; computed here with the
    // engine's built-in, not the program's ingest.
    val idOf = ps.map(p => (p.url, p.file)).toDF("url", "file")
      .select(col("url"), xxhash64(col("url"), col("file"))).as[(String, Long)].collect().toMap
    val id = (p: Page) => idOf(p.url)
    val grouped = ps.filter(p => p.role == "exact" || p.role == "near").groupBy(_.group)
    val keptBase = ps.filter(p => p.batch < 0 && p.role == "unique").map(id) ++
      grouped.values.map(g => g.map(id).min)
    val keptBatch = ps.filter(p => p.batch >= 0 && (p.role == "unique" || p.role == "variant")).map(id)
    val kept = (keptBase ++ keptBatch).toSet
    val byUrl = ps.map(p => p.url -> p).toMap
    val clusterOf = scala.collection.mutable.Map[Long, Long]()
    ps.filter(_.role == "variant").groupBy(_.group).foreach { case (baseUrl, copies) =>
      val members = (byUrl(baseUrl) +: copies).map(id)
      members.foreach(m => clusterOf(m) = members.min)
    }

    val docIds = Layout.table(spark, run.table("docs")).select(col("doc_id")).as[Long].collect()
    run.expect("op.build", docIds.length == docIds.distinct.length,
      s"docs index holds ${docIds.length - docIds.distinct.length} duplicate rows")
    val missing = kept -- docIds
    val extra = docIds.toSet -- kept
    run.expect("op.build", missing.isEmpty && extra.isEmpty,
      s"docs index: ${missing.size} kept pages missing, ${extra.size} pages that should have been dropped")
    val n = kept.size.toLong
    def rows(table: String) = Layout.table(spark, table).count()
    def docs(table: String) = Layout.table(spark, table).select("doc_id").distinct().count()
    val (bands, toks, postings) = (rows(run.table("bands")), rows(run.table("toks")),
      docs(run.table("postings")))
    run.expect("op.build", bands == Bands * n, s"band index has $bands rows, expected ${Bands * n}")
    run.expect("op.build", toks == n, s"token index has $toks rows, expected $n")
    run.expect("op.build", postings == n, s"postings cover $postings docs, expected $n")
    val clusters = Components.clustersFromIndex(Layout.table(spark, run.table("clusters")))
      .select(col("doc_id"), col("component")).as[(Long, Long)].collect()
    run.expect("op.build", clusters.length == n, s"cluster map resolves ${clusters.length} docs, expected $n")
    val wrong = clusters.count { case (d, c) => clusterOf.getOrElse(d, d) != c }
    ps.filter(_.role == "variant").map(_.batch).distinct.foreach { b =>
      run.expect(s"op.append.$b", wrong == 0, s"$wrong docs carry the wrong cluster label")
    }
  }

  /** Traced run only, after the clock: LSH candidate and verified pairs
    * over the final indexed corpus, and each native kernel alone over
    * the crawl's pages to the noop sink.
    */
  private def traceExtras(run: Run): Unit = {
    val spark = run.spark
    val store = Layout.table(spark, run.table("docs"))
    val b = Dedup.lshBands(store, "doc_id", "text", K, Bands)
    val candidates = b.as("l").join(b.as("r"), col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id")).distinct().count()
    val verified = Dedup.minhashNearDups(store, "doc_id", "text", K, Bands, Threshold).count()
    run.layers("ops.candidate_pairs") = candidates.toDouble
    run.layers("ops.verified_pairs") = verified.toDouble
    run.layers("ops.pair_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates

    val crawl = s"${run.in}/crawl"
    val html = Warc.readBinary(spark, crawl, "*.warc.gz")
      .select(WebCorpus.httpText(col("payload_bytes")).as("html")).localCheckpoint()
    val text = CorpusPipeline.fromWarc(spark, crawl, "*.warc.gz").select("text").localCheckpoint()
    def timed(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    run.layers("functions.minhash_ms") = timed(text.select(Dedup.minhashSignature(col("text"), K)))
    run.layers("functions.html_text_ms") = timed(html.select(WebCorpus.htmlText(col("html"))))
    run.layers("functions.langid_ms") = timed(text.select(TextAnalysis.langId(col("text"))))
  }
}
