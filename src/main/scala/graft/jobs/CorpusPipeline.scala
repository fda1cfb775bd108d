package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.TextFunctions
import graft.snap.Snapshot
import graft.snap.Snapshot.StageResult
import graft.warc.WarcRead

/** The snapshotted crawl→training-set pipeline — the webtext
  * counterpart of [[Pipeline]] (J9 resumability applied to the corpus
  * side): archive scan → HTML extraction → quality filter (perplexity +
  * repetition) → exact dedup → fuzzy (MinHash-LSH) near-dedup →
  * token-budget packing — the full RefinedWeb-style chain, every stage
  * an immutable parquet set + manifest with lineage keys chaining back
  * to the input archive. A killed run resumes from the last committed
  * stage with ZERO recompute of committed work; a changed parameter
  * (model threshold, jaccard cut, budget) changes the lineage key and
  * recomputes only from the first affected stage — in particular the
  * expensive fuzzy step re-runs ALONE on a threshold change.
  *
  * Scale shape per stage: archive scan is one task per gz shard;
  * extraction is per-row expression work; the filter's model joins are
  * broadcast (fixed vocab) and its per-doc scores meet the text in
  * forced shuffled-hash joins (score sides scale with the corpus);
  * dedup elects keepers on a 16-byte (xxhash64, length) fingerprint
  * key and semi-joins winners back (the shuffle never keys on document
  * bytes); packing is the per-shard prefix-sum window. Nothing
  * all-pairs, nothing driver-side.
  */
object CorpusPipeline {

  /** Exact dedup by fingerprint-keyed election: the groupBy exchange
    * carries (xxhash64(text), length(text)) — 16 bytes/row — never the
    * document text as the shuffle key; winners (min doc_id per
    * fingerprint) semi-join back on doc_id. The semi-join is forced
    * shuffled-hash: the winner set is corpus-sized and Spark would
    * byte-underestimate the post-agg side and broadcast it. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val winners = docs
      .select(col("doc_id"), xxhash64(col("text")).as("fp"),
        length(col("text")).cast("long").as("len"))
      .groupBy("fp", "len").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(winners.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      .select("doc_id", "text")
  }

  /** Fuzzy (MinHash-LSH) near-dup removal — the RefinedWeb/CCNet
    * "fuzzy" step after exact dedup: banded LSH candidate pairs over
    * word-3-gram minhash signatures → exact-jaccard verify ≥
    * `jaccKeepMilli`/1000 → connected components (min-label
    * propagation, O(cluster diameter) rounds) → keep each cluster's
    * min doc_id. Bucketed end to end: signatures are per-row codegen,
    * candidates come from band equi-joins, the component graph is
    * pair-sized — nothing all-pairs, nothing driver-side. The loser
    * anti-join is forced shuffled-hash (post-agg side, Spark would
    * byte-underestimate and broadcast it at any true size). */
  def dedupNear(spark: SparkSession, docs: DataFrame,
      jaccKeepMilli: Long): DataFrame = {
    val pairs = graft.queries.TextOps.verifiedPairsOf(spark, docs,
      jaccKeepMilli)
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
    val losers = graft.util.LabelProp.components(spark, edges)
      .filter(col("comp") =!= col("node"))
      .select(col("node").as("doc_id"))
    docs.join(losers.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text")
  }

  /** Run (or resume) the pipeline.
    * @param extractSql engine-common extraction SQL over a STRING
    *   column literally named `page` (the rendered htmlTextSql chain)
    * @return the pack report (shard, bin, n_docs, fill_toks, first_id)
    *   plus every stage's [[StageResult]] */
  def run(spark: SparkSession, warcGzDir: String, root: String,
      extractSql: String, pplVocab: Seq[(String, Long)], pplOov: Long,
      pplKeepBelow: Long, repMaxMilli: Long = 100L, budget: Long = 2048L,
      shards: Long = 32L, reportShards: Long = 4L,
      nearJaccMilli: Long = 500L)
      : (DataFrame, Map[String, StageResult]) = {
    import spark.implicits._

    val (exDf, sEx) = Snapshot.stage(spark, root, "corpus_extract",
      Seq(s"warc:$warcGzDir")) {
      WarcRead.records(spark, warcGzDir)
        .filter(col("warcType") === "response")
        .select(
          regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          expr("decode(body, 'UTF-8')").as("page"))
        .withColumn("text", expr(extractSql))
        .select("doc_id", "text")
    }

    val (keptDf, sFl) = Snapshot.stage(spark, root, "corpus_filter",
      Seq(sEx.key, s"ppl<$pplKeepBelow", s"oov:$pplOov",
        s"rep<=$repMaxMilli")) {
      val vocabDf = broadcast(pplVocab.toDF("w", "nlp"))
      val ppl = exDf
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .join(vocabDf, Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(coalesce(col("nlp"), lit(pplOov))).as("nll_sum"))
        .select(col("doc_id"), expr("nll_sum DIV n_words").as("nll_micro"))
      val rep = exDf.select(col("doc_id"),
          greatest(size(split(lower(col("text")), " ")) - 2, lit(0))
            .cast("long").as("t3"),
          size(TextFunctions.shingle_hashes(lower(col("text"))))
            .cast("long").as("d3"))
        .select(col("doc_id"),
          expr("(t3 - d3) * 1000 DIV greatest(t3, 1)").as("dup_milli"))
      // score sides scale with the corpus — forced shuffled-hash
      exDf.join(ppl.hint("shuffle_hash"), "doc_id")
        .join(rep.hint("shuffle_hash"), "doc_id")
        .filter(col("nll_micro") < pplKeepBelow &&
          col("dup_milli") <= repMaxMilli)
        .select("doc_id", "text")
    }

    val (uniqDf, sDd) = Snapshot.stage(spark, root, "corpus_dedup",
      Seq(sFl.key)) { dedupExact(keptDf) }

    val (nearDf, sNd) = Snapshot.stage(spark, root, "corpus_neardup",
      Seq(sDd.key, s"jacc>=$nearJaccMilli")) {
      dedupNear(spark, uniqDf, nearJaccMilli)
    }

    val (packDf, sPk) = Snapshot.stage(spark, root, "corpus_pack",
      Seq(sNd.key, s"budget:$budget", s"shards:$shards",
        s"report:$reportShards")) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      nearDf
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(shards)).as("shard"))
        .filter(col("shard") < reportShards)
        .select(col("doc_id"), col("shard"),
          TextFunctions.tokenize_count(lower(col("text"))).as("toks"))
        .withColumn("csum", coalesce(sum(col("toks")).over(w), lit(0L)))
        .withColumn("bin", expr(s"csum DIV $budget"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("fill_toks"),
          min(col("doc_id")).as("first_id"))
    }

    (packDf, Map("corpus_extract" -> sEx, "corpus_filter" -> sFl,
      "corpus_dedup" -> sDd, "corpus_neardup" -> sNd,
      "corpus_pack" -> sPk))
  }
}
