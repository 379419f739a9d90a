package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.Dedup
import graft.sources.Tables

/** Shared on-disk NEAR-DUP CLUSTER artifacts — the `postingsIndexFor`
  * move (service/GraftService.scala) applied to the two capped-LSH →
  * connected-components chains that eight queries previously each
  * recomputed from scratch:
  *
  *   - TEXT chain (q33/q108/q166/q178/q182/q184/q189/q192/q193/q204): planted-near-dup
  *     corpus → portable SimHash table → hamming ≤ 7 banded pairs,
  *     degree-capped at 4 → connected components. Persists BOTH the
  *     (id, cluster_id) labels and the capped (id_a, id_b, hamming)
  *     pair set — label consumers and pair consumers (threshold
  *     sensitivity, chaining audit) share one build.
  *   - EMBEDDING chain (q80/q98/q136/q138): random-hyperplane LSH pairs
  *     (8 planes × 12 tables, cosine ≥ 0.3, degree cap 4) → connected
  *     components → (id, cluster_id) labels.
  *
  * Each label table is built ONCE per corpus directory (keyed on the
  * FULL canonical path, idempotent via `_COMPLETE` marker, exactly the
  * serving-index discipline) and every consumer reads the parquet — so
  * the consumer plan is a FileScan of the artifact, never the
  * signature/banding/fixpoint subtree. At 100 TB this is the difference
  * between one cluster build per corpus and one per *consumer*: round
  * 9 measured the text substrate alone at 304.6 s at 50× and eight
  * queries each paid it. Both chains are fully deterministic (portable
  * md5-derived hashes, deterministic degree-cap tie-breaks, CC's
  * min-reachable-id fixpoint), so artifact reuse is bit-invisible to
  * every consumer's output — the oracle SQL still replays the whole
  * chain per query and must keep matching.
  *
  * The cache assumes an immutable corpus directory (true of every sf
  * dir here); a mutated corpus needs the artifact dir removed. The
  * CHAIN NAME is the schema/semantics contract: artifacts outlive the
  * process, so any change to a chain's parameters, layout, or hash
  * convention MUST bump its name (as `simhash_h7_d4` → `text_h7_d4_lp`
  * did when the pair subtree landed) — a stale same-named artifact
  * would serve silently wrong labels. The build-once mechanics live in
  * [[Tables.buildOnce]], shared with the serving indexes and shards.
  */
object ClusterArtifacts {

  /** (id, cluster_id) labels of the TEXT near-dup chain over the
    * planted-near-dup corpus — q33's exact substrate. The build also
    * persists the capped PAIR set (id_a, id_b, hamming) it passes
    * through CC — [[simhashPairs]] reads it, so pair-level consumers
    * (q184's threshold sensitivity) are census-cost too. */
  def simhashLabels(spark: SparkSession, dir: String): DataFrame =
    textChain(spark, dir, "labels")

  /** The capped (id_a, id_b, hamming) pair set of the TEXT chain —
    * q13b's exact edges, persisted by the same one-per-corpus build. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    textChain(spark, dir, "pairs")

  // chain names deliberately avoid the substrings "simhash"/"lsh_":
  // the plan-shape spec asserts those are ABSENT from consumer plans
  // (they would only appear if the chain were recomputed), and the
  // artifact path itself must not be a false positive
  private def textChain(spark: SparkSession, dir: String, sub: String): DataFrame = {
    val root = Tables.buildOnce("graft_cluster_artifacts", dir, "text_h7_d4_lp") { out =>
      val corpus = DedupQueries.withPlantedNearDups(Tables.documents(spark, dir))
      val sims = Dedup.simhashTable(corpus, "doc_id", "text",
        hasher = graft.functions.TextFunctions.portableHash60)
      val pairs = Dedup.simhashNearDupPairs(sims, maxHamming = 7, maxDegree = 4)
        .localCheckpoint(true) // pair write + CC both consume
      pairs.write.mode("overwrite").parquet(s"$out/pairs")
      Dedup.connectedComponents(pairs).write.mode("overwrite").parquet(s"$out/labels")
    }
    spark.read.parquet(s"$root/$sub")
  }

  /** The CRAWL LINK TABLE — the full [[graft.sources.Warc.htmlLinks]]
    * extraction over the HTML crawl fixture (src, src_host, target_url,
    * dst, dst_host, anchor), materialized ONCE per corpus directory.
    * Round 10 had five consumers (q210 anchor text, q211 PageRank, q212
    * authority×quality, q215 HITS, q216 link-spam census) each re-running
    * the WARC walk + tag parse + canonicalization per query — five crawl
    * re-parses of the same fixture per verify run, and at 100 TB five
    * re-parses of the crawl where one artifact read should serve. Same
    * discipline as the dedup chains above: build once behind a
    * `_COMPLETE` marker, every consumer plan is a FileScan of the
    * artifact parquet, never the gzip-walk/extraction subtree
    * (PlanAuditSpec pins the fixture path OUT of consumer plans). The
    * chain name carries the extraction contract — v2 = the ANCHORED dst
    * ordinal + attribute-safe anchor regexes (sources/Warc.scala) — so a
    * future extraction change cannot silently serve stale links. The
    * streaming link-graph sink keeps calling the extraction directly
    * (its input is the live micro-batch, not an immutable corpus). */
  def htmlLinks(spark: SparkSession, dir: String): DataFrame = {
    val fx = graft.sources.Warc.ensureHtmlFixture(spark, dir) // hoisted: no nested buildOnce
    val path = Tables.buildOnce("graft_cluster_artifacts", dir, "html_links_v2") { out =>
      graft.sources.Warc.htmlLinks(graft.sources.Warc.scan(spark, fx).toDF())
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }

  /** ANCHOR-DOCUMENT table off the [[htmlLinks]] artifact: per target
    * page, every in-link's anchor text concatenated into one surrogate
    * document — q217's substrate and the `/search` anchor leg's serving
    * table (the classic web-relevance move: anchor terms describe the
    * TARGET better than its own body). Build-once like the links
    * themselves: the groupBy(dst) concat runs once per corpus, serving
    * reads FileScan the bounded (one row per linked-to page) table.
    * BM25 over it is concatenation-ORDER-FREE (tf/dl only), so the
    * nondeterministic collect_list order in the stored text cannot
    * reach any score. */
  def anchorDocs(spark: SparkSession, dir: String): DataFrame = {
    val links = htmlLinks(spark, dir) // hoisted: no nested buildOnce
    val path = Tables.buildOnce("graft_cluster_artifacts", dir, "anchor_docs_v1") { out =>
      links.filter(col("dst").isNotNull)
        .groupBy(col("dst"))
        .agg(org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.collect_list(col("anchor"))).as("anchor_text"))
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }

  /** (src, dst) page-ordinal edges off the [[htmlLinks]] artifact — the
    * graph-operator feed (the batch twin of
    * [[graft.streaming.Streaming.linkGraphEdges]]'s durable table). */
  def htmlLinkEdges(spark: SparkSession, dir: String): DataFrame =
    htmlLinks(spark, dir)
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"))

  /** The PART CO-PURCHASE edge set — parts sharing ≥ 2 orders, (u, v)
    * with u < v — materialized ONCE per corpus. Four graph queries
    * (q77 triangles, q96 label propagation, q104 BFS landmarks, q115
    * link prediction) each rebuilt it from the same lineitem self-join
    * on l_orderkey — the suite's widest relational self-join, paid four
    * times per run (and at 100 TB four full co-occurrence builds where
    * one artifact read serves). Fully deterministic (distinct + count
    * threshold), so reuse is hash-invisible; the oracle SQL still
    * replays the self-join per query. */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    val path = Tables.buildOnce("graft_cluster_artifacts", dir, "copurchase_o2_v1") { out =>
      val items = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val l = items.select(col("ok"), col("pk").as("u"))
      val r = items.select(col("ok"), col("pk").as("v"))
      l.join(r, Seq("ok"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .select(col("u"), col("v"))
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }

  /** Build-once per-corpus BM25 postings index
    * ([[graft.ops.TextSearch.writePostingsIndex]]) — one home for the
    * serving facade (`/search`) AND the batch retrieval queries
    * (q45/q143/q214/q114), which as of round 11 all serve from the
    * stored term-bucketed index via `bm25TopKIndexed` (proven
    * score-bit-equal to the corpus-rescan `bm25TopK`): the index builds
    * once per corpus and every consumer's lexical path scans postings
    * buckets, never the corpus text column. */
  def postingsIndex(spark: SparkSession, dir: String): String =
    Tables.buildOnce("graft_postings_index", dir, "bm25_b64_v1") { out =>
      graft.ops.TextSearch.writePostingsIndex(
        Tables.documents(spark, dir), "doc_id", "text", out)
    }

  /** Build-once per-corpus IVF index (8 cells, one exact Lloyd step,
    * integer-quantized vectors — the q15c/q79/q163/q175 build):
    * `centroids` (cell, cv) + `index` (id, qv) PARTITIONED BY cell, so a
    * probe's serving read dynamically prunes to its nProbe cells. */
  def ivfIndex(spark: SparkSession, dir: String): String =
    Tables.buildOnce("graft_ivf_index", dir, "ivf_k8_i1_v1") { out =>
      val emb = Tables.embeddings(spark, dir)
      val cents = graft.ops.Similarity.ivfExactCentroids(
        emb, "vec_id", "embedding", k = 8, iters = 1)
      val qvecs = emb.select(col("vec_id").as("id"),
        graft.ops.Similarity.quantize(col("embedding")).as("qv"))
      cents.write.mode("overwrite").parquet(s"$out/centroids")
      graft.ops.Similarity.ivfExactAssign(qvecs, cents)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$out/index")
    }

  /** (id, cluster_id) labels of the EMBEDDING near-dup chain — q80's
    * exact substrate. */
  def embeddingLabels(spark: SparkSession, dir: String): DataFrame = {
    val path = Tables.buildOnce("graft_cluster_artifacts", dir, "emb_p8_t12_c030_d4") { out =>
      val pairs = graft.ops.Similarity.lshNearDupPairs(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        dim = 64, planes = 8, tables = 12, cosineThreshold = 0.3, maxDegree = 4)
      Dedup.connectedComponents(pairs).write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(path)
  }
}
