package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.TextFunctions
import graft.util.{QueryDef, Tables}

/** Training-data pipeline operators (dedup / similarity / text analysis)
  * over the documents + embeddings tables, each DuckDB-oracled via the
  * shared codepoint polynomial hash (see TextExpressions.scala).
  *
  * All integer arithmetic (scaled ratios, quantized distances) so both
  * engines agree bit-for-bit. `corpus` unions deterministic near-dups
  * (suffix-modified) and exact dups so the dedup operators have real
  * positives to find.
  */
object TextOps {

  private val P = 1000000007L

  /** Spark-side corpus: documents + planted near-dups + exact dups. */
  private[queries] def corpus(s: SparkSession, d: String): DataFrame = {
    TextFunctions.register(s)
    val docs = Tables.t(s, d, "documents").select("doc_id", "text")
    val near = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" near duplicate suffix")).as("text"))
    val exact = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    docs.union(near).union(exact)
  }

  private[queries] val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text || ' near duplicate suffix'
      |  FROM documents WHERE doc_id % 7 = 0
      |UNION ALL SELECT doc_id + 2000000, text
      |  FROM documents WHERE doc_id % 11 = 0""".stripMargin

  /** DuckDB rendering of the shared polynomial hash. */
  private[queries] def ph(e: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform(regexp_split_to_array($e, ''), " +
      s"c -> unicode(c))), (a, b) -> (a * 31 + b) % 1000000007)"

  private def sph(c: Column): Column = TextFunctions.str_poly_hash(c)

  /** Fixed in-repo unigram LM for the perplexity filter (q_ppl_filter):
    * word → negative log-probability in integer MICRO-NATS. A fixed
    * model (like the subword vocab) — the gate's semantics are "score under
    * THIS model", so the values only need to be deterministic, ordered
    * plausibly, and single-sourced into both engines (the oracle VALUES
    * list is rendered from this Seq). */
  private[queries] val PplVocab: Seq[(String, Long)] = Seq(
    "a" -> 1200000L, "the" -> 1500000L, "join" -> 2500000L,
    "hash" -> 2600000L, "row" -> 2700000L, "batch" -> 2800000L,
    "scan" -> 2900000L, "column" -> 3000000L, "filter" -> 3100000L,
    "small" -> 3200000L, "slow" -> 3300000L, "merge" -> 3400000L,
    "order" -> 3500000L, "data" -> 3600000L, "table" -> 3700000L,
    "agg" -> 3800000L, "value" -> 3900000L, "key" -> 4000000L,
    "window" -> 4100000L, "spark" -> 4200000L)

  /** Out-of-vocabulary penalty (micro-nats). */
  private[queries] val PplOov: Long = 9000000L

  /** Keep documents whose mean token NLL is below this (micro-nats). */
  private[queries] val PplKeepBelow: Long = 5150000L

  /** DSIR raw (proposal) model: uniform over the observed vocab —
    * ln 31 in micro-nats, every token including OOV. */
  private[queries] val DsirRawNlp: Long = 3434000L

  // --------------------------------------------- exact-substring dedup

  /** Positional tokens of the corpus: (doc_id, pos, w). */
  private def substrToks(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "w")

  /** Duplicated-span START positions (doc_id, pos) of the exact-
    * substring dedup machinery (Lee et al. 2022 semantics, hash
    * election instead of a suffix array — see q_substr_dedup): every
    * non-FIRST occurrence of a 5-token shingle that repeats anywhere in
    * the corpus. Positional shingle hashes come from the
    * word_gram_hashes codegen kernel (window i of the per-doc array ==
    * the shingle starting at token i), replacing the round-8
    * posexplode + doc-keyed lead() window — one map-only pass instead
    * of a per-doc window shuffle over every token row. The election
    * side is corpus-sized (one row per distinct shingle) — never
    * broadcastable, hence the forced co-partitioned shuffled-hash
    * join. */
  private def substrDupStarts(s: SparkSession, d: String): DataFrame = {
    val sh = corpus(s, d)
      .select(col("doc_id"),
        posexplode(TextFunctions.word_gram_hashes(lower(col("text")), 5)))
      .toDF("doc_id", "pos", "h")
      .select(col("doc_id"), col("pos"), col("h"),
        (col("doc_id") * 1000000L + col("pos")).as("occ"))
    val first = sh.groupBy("h")
      .agg(min("occ").as("first_occ"), count(lit(1)).as("n_occ"))
    sh.join(first.hint("shuffle_hash"), "h")
      .filter(col("n_occ") > 1 && col("occ") =!= col("first_occ"))
      // materialized once: feeds two consumers (covered + starts)
      .localCheckpoint()
  }

  /** DuckDB replay of [[substrDupStarts]]: CTEs c/tk/sh/fo/dup with
    * dup = (doc_id, pos) duplicated-span starts. */
  private def substrDupCtes: String =
    s"""c AS ($corpusSql),
       |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |  FROM c),
       |sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    ${ph("array_to_string(toks[i:i+4], ' ')")} AS h,
       |    doc_id * 1000000 + i - 1 AS occ
       |  FROM tk, LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)),
       |fo AS (SELECT h, min(occ) AS first_occ, count(*) AS n_occ
       |  FROM sh GROUP BY h),
       |dup AS (SELECT doc_id, pos FROM sh JOIN fo USING (h)
       |  WHERE n_occ > 1 AND occ <> first_occ)""".stripMargin

  /** THE stopword-count language-ID classifier — one definition for
    * all four sites (Spark q_lang_id / q_corpus_filter and both
    * oracles), so a tweak cannot desynchronize gate and oracle.
    * `lenFn` is the engine's string-length function ("length" Spark,
    * "len" DuckDB); the rest is engine-common SQL. */
  private def langIdCase(lenFn: String): String = {
    def cnt(pat: String) =
      s"CAST(($lenFn(lower(text)) - $lenFn(replace(lower(text), '$pat', ''))) / ${pat.length} AS BIGINT)"
    s"CASE WHEN ${cnt(" the ")} >= ${cnt(" le ")} AND ${cnt(" the ")} >= ${cnt(" el ")} AND ${cnt(" the ")} >= ${cnt(" der ")} THEN 'en' " +
      s"WHEN ${cnt(" le ")} >= ${cnt(" el ")} AND ${cnt(" le ")} >= ${cnt(" der ")} THEN 'fr' " +
      s"WHEN ${cnt(" el ")} >= ${cnt(" der ")} THEN 'es' ELSE 'de' END"
  }

  /** Spark-side word-3-gram shingle hash set (codegen kernel — same
    * values as array_distinct(transform(split(lower(text)),...)) with
    * the shared polynomial hash, but one fused loop per row). */
  private[queries] def shingleSet(text: Column): Column =
    TextFunctions.shingle_hashes(lower(text))

  private[queries] val shingleSetSql = // per-row `toks` list column assumed
    s"""list_distinct(list_transform(
       |  range(1, greatest(len(toks) - 1, 1)),
       |  i -> ${ph("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}))""".stripMargin

  /** The default [[graft.expr.SubwordVocab]] rendered as a DuckDB
    * VALUES table `vo(tok, tid, l)` — the SINGLE SOURCE for every
    * tokenizer oracle (1.2k entries, arbitrary lengths; l counts code
    * points to match DuckDB's character-based substr/len). */
  private def vocabCte(v: graft.expr.SubwordVocab): String = {
    val vs = v.entries.zipWithIndex.map {
      case (w, i) =>
        s"('${w.replace("'", "''")}', $i, ${w.codePointCount(0, w.length)})"
    }
    s"""vo(tok, tid, l) AS (SELECT * FROM (VALUES
       |  ${vs.grouped(8).map(_.mkString(", ")).mkString(",\n|  ")})
       |  v(tok, tid, l))""".stripMargin
  }

  /** Greedy longest-match steps per (distinct word, position),
    * precomputed OUTSIDE the recursion (recursive terms cannot
    * aggregate): the longest vocab entry matching at pos wins via
    * max_by(tid, l); no match falls back to one code point with tid
    * FallbackBase + unicode. Requires preceding `uw(w)` and the vocab
    * CTE; yields `stp(w, pos, step, tid)`. */
  private def stepCte: String =
    s"""po AS (SELECT w, unnest(range(1, len(w) + 1)) AS pos FROM uw),
       |stp AS (SELECT po.w, po.pos,
       |    coalesce(max(vo.l), 1) AS step,
       |    coalesce(max_by(vo.tid, vo.l),
       |      ${graft.expr.SubwordVocab.FallbackBase}
       |        + unicode(substr(po.w, po.pos, 1))) AS tid
       |  FROM po LEFT JOIN vo ON substr(po.w, po.pos, vo.l) = vo.tok
       |  GROUP BY po.w, po.pos)""".stripMargin

  /** DuckDB replay of the greedy longest-match subword tokenizer: a
    * recursive CTE following the precomputed per-position steps — run
    * over the DISTINCT word set (tiny), then joined back to the
    * per-doc word multiset. Requires WITH RECURSIVE and a prior
    * `src(doc_id, text)` CTE; yields `tc(doc_id, bpe_tokens)`. */
  private[queries] def tokCountCtes: String =
    s"""wd AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM src),
       |uw AS (SELECT DISTINCT w FROM wd),
       |${vocabCte(graft.expr.SubwordVocab.default)},
       |$stepCte,
       |tk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt FROM uw
       |  UNION ALL
       |  SELECT t.w, t.pos + s.step, t.cnt + 1
       |  FROM tk t JOIN stp s ON s.w = t.w AND s.pos = t.pos
       |  WHERE t.pos <= len(t.w)),
       |wc AS (SELECT w, cnt FROM tk WHERE pos > len(w)),
       |tc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS bpe_tokens
       |  FROM wd JOIN wc USING (w) GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of the token-ID recursion: given a preceding
    * `src(doc_id, text)` CTE, yields `wd(doc_id, wi, w)` word
    * occurrences and `wt(w, j, tid)` per-DISTINCT-word token rows
    * (0-based in-word ordinal j). Requires WITH RECURSIVE. */
  private def tokIdCtes: String = tokIdCtes(graft.expr.SubwordVocab.default)

  /** Mid-training vocab for q_bpe_pair_stats: the default's entries of
    * ≤ 3 chars (ids = their DEFAULT indices are not preserved — this
    * is its own id space by construction, like any vocab file). */
  private lazy val bpeStatsVocab: graft.expr.SubwordVocab =
    // code-point length, matching the vocab/oracle convention (the
    // UTF-16 .length was equivalent only while the default vocab stays
    // ASCII; a non-BMP entry would silently misclassify)
    graft.expr.SubwordVocab(
      graft.expr.SubwordVocab.default.entries
        .filter(e => e.codePointCount(0, e.length) <= 3))

  private def tokIdCtes(v: graft.expr.SubwordVocab): String =
    s"""wd AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS wi, toks[i] AS w
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |        FROM src),
       |    LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
       |uw AS (SELECT DISTINCT w FROM wd),
       |${vocabCte(v)},
       |$stepCte,
       |tkr AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, CAST(-1 AS BIGINT) AS j,
       |    CAST(0 AS BIGINT) AS tid
       |  FROM uw
       |  UNION ALL
       |  SELECT t.w, t.pos + s.step, t.j + 1, CAST(s.tid AS BIGINT)
       |  FROM tkr t JOIN stp s ON s.w = t.w AND s.pos = t.pos
       |  WHERE t.pos <= len(t.w)),
       |wt AS (SELECT w, j, tid FROM tkr WHERE j >= 0)""".stripMargin

  /** k=8 minhash signature as a PER-ROW array expression over the
    * shingle set — zero fan-out, zero shuffle. (Round-1 used
    * explode(shingles)×explode(8 hash indices)→groupBy, which shuffled
    * docs×shingles×8 rows and was 59% of total bench time.) Same hash
    * family mh_j = min_x ((1+2j)·x mod P + 17j mod P) mod P, so the
    * DuckDB oracle is unchanged. */
  private def minhashSig(shs: Column): Column = TextFunctions.minhash_sig(shs)

  /** Per-doc shingle sets with at least one shingle (docs under 3 tokens
    * produced no rows in the exploded round-1 plan; the filter keeps the
    * output — and the oracle — identical). */
  private def shingled(s: SparkSession, d: String): DataFrame =
    corpus(s, d)
      .select(col("doc_id"), shingleSet(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)

  /** LSH candidate pairs (r=2, b=4 band self-join — the bucketed shape,
    * never all-pairs) verified by exact jaccard ≥ 0.5. Shared by
    * q_dedup_minhash_lsh and q_dedup_clusters. */
  /** Every corpus-derived build side here (band table, shingle-set
    * table) sits behind Generates/aggregations whose stats Catalyst
    * underestimates, so Spark would auto-broadcast them at ANY true
    * size — the bands/verify joins are therefore broadcast only while
    * one cheap count of the materialized set table stays under a bound,
    * degrading deterministically to shuffled-hash beyond it (the same
    * r4-kNN rule every ANN join follows). */
  private val dedupBroadcastMaxRows = 1000000L

  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairsOf(s, corpus(s, d))

  /** [[verifiedPairs]] over an arbitrary (doc_id, text) DataFrame —
    * the reusable form [[graft.jobs.CorpusPipeline]]'s near-dup stage
    * consumes. */
  private[graft] def verifiedPairsOf(s: SparkSession, docs: DataFrame,
      keepMilli: Long = 500L): DataFrame = {
    // materialize once: feeds the band build, BOTH verify sides and the
    // broadcast-bound count (previously recomputed per consumer)
    val sets = docs
      .select(col("doc_id"), shingleSet(col("text")).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint()
    val n = sets.count()
    def bounded(df: DataFrame, est: Long) =
      graft.util.Joins.boundedBroadcast(df, est, dedupBroadcastMaxRows)
    val bands = sets
      .withColumn("sig", minhashSig(col("shs")))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lit(3)), b => struct(
          least(element_at(col("sig"), b * 2 + 1),
            element_at(col("sig"), b * 2 + 2)).as("mh_a"),
          greatest(element_at(col("sig"), b * 2 + 1),
            element_at(col("sig"), b * 2 + 2)).as("mh_b")))))
      .select(col("doc_id"), col("pos").as("band"),
        col("col.mh_a").as("mh_a"), col("col.mh_b").as("mh_b"))
    val pairs = bands.as("l").join(bounded(bands.as("r"), 4L * n),
        col("l.band") === col("r.band") && col("l.mh_a") === col("r.mh_a") &&
          col("l.mh_b") === col("r.mh_b") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2")).distinct()
    pairs
      .join(bounded(sets.select(col("doc_id").as("d1"), col("shs").as("s1")), n), "d1")
      .join(bounded(sets.select(col("doc_id").as("d2"), col("shs").as("s2")), n), "d2")
      .withColumn("n_int", size(array_intersect(col("s1"), col("s2"))))
      .withColumn("jacc1000",
        expr("n_int * 1000 DIV (size(s1) + size(s2) - n_int)"))
      .filter(col("jacc1000") >= keepMilli)
      .select("d1", "d2", "jacc1000")
  }

  /** DuckDB near-dup LOSER set over a preceding `<src>(doc_id, text)`
    * CTE: the full MinHash-LSH → exact-jaccard-verify → transitive
    * closure chain, yielding `ndl(doc_id)` = docs whose near-dup
    * cluster keeper is a smaller id. Names are nd_-prefixed so the
    * fragment composes into larger oracle chains (the corpus-pipeline
    * gate). Requires WITH RECURSIVE. */
  private[graft] def nearDupLosersCte(src: String,
      keepMilli: Long = 500L): String =
    s"""nd_tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
       |  FROM $src),
       |nd_st AS (SELECT doc_id, $shingleSetSql AS shs FROM nd_tk),
       |nd_sh AS (SELECT doc_id, unnest(shs) AS x FROM nd_st),
       |nd_ex AS (SELECT doc_id, x, unnest(range(0, 8)) AS j FROM nd_sh),
       |nd_sig AS (SELECT doc_id, j,
       |  CAST(min(((1 + j * 2) * x % 1000000007 + j * 17 % 1000000007)
       |       % 1000000007) AS BIGINT) AS mh
       |  FROM nd_ex GROUP BY doc_id, j),
       |nd_bands AS (SELECT doc_id, j // 2 AS band,
       |    min(mh) AS mh_a, max(mh) AS mh_b
       |  FROM nd_sig GROUP BY doc_id, j // 2),
       |nd_pairs AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |  FROM nd_bands l JOIN nd_bands r ON l.band = r.band
       |    AND l.mh_a = r.mh_a AND l.mh_b = r.mh_b
       |    AND l.doc_id < r.doc_id),
       |nd_vp AS (SELECT d1, d2
       |  FROM nd_pairs JOIN nd_st a ON a.doc_id = d1
       |    JOIN nd_st b ON b.doc_id = d2
       |  WHERE len(list_intersect(a.shs, b.shs)) * 1000
       |    // (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))
       |    >= $keepMilli),
       |nd_e AS (SELECT d1 AS a, d2 AS b FROM nd_vp
       |  UNION SELECT d2, d1 FROM nd_vp
       |  UNION SELECT d1, d1 FROM nd_vp UNION SELECT d2, d2 FROM nd_vp),
       |nd_r AS (SELECT a, b FROM nd_e
       |  UNION SELECT nd_r.a, nd_e.b FROM nd_r JOIN nd_e ON nd_r.b = nd_e.a),
       |ndl AS (SELECT a AS doc_id FROM nd_r GROUP BY a HAVING min(b) <> a)""".stripMargin

  /** DuckDB CTE prefix ending in `vp(d1, d2, jacc1000)` — the oracle
    * mirror of [[verifiedPairs]] (RECURSIVE so callers may append a
    * recursive CTE; harmless otherwise). */
  private val verifiedPairsCte: String =
    s"""WITH RECURSIVE c AS ($corpusSql),
       |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM c),
       |st AS (SELECT doc_id, $shingleSetSql AS shs FROM tk),
       |sh AS (SELECT doc_id, unnest(shs) AS x FROM st),
       |ex AS (SELECT doc_id, x, unnest(range(0, 8)) AS j FROM sh),
       |sig AS (SELECT doc_id, j,
       |  CAST(min(((1 + j * 2) * x % 1000000007 + j * 17 % 1000000007)
       |       % 1000000007) AS BIGINT) AS mh
       |  FROM ex GROUP BY doc_id, j),
       |bands AS (SELECT doc_id, j // 2 AS band, min(mh) AS mh_a, max(mh) AS mh_b
       |  FROM sig GROUP BY doc_id, j // 2),
       |pairs AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |  FROM bands l JOIN bands r ON l.band = r.band AND l.mh_a = r.mh_a
       |    AND l.mh_b = r.mh_b AND l.doc_id < r.doc_id),
       |vp AS (SELECT d1, d2,
       |  len(list_intersect(a.shs, b.shs)) * 1000
       |    // (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS jacc1000
       |FROM pairs JOIN st a ON a.doc_id = d1 JOIN st b ON b.doc_id = d2
       |WHERE len(list_intersect(a.shs, b.shs)) * 1000
       |    // (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 500)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // document fingerprinting (rolling/polynomial hash)
    QueryDef(
      "q_text_fingerprint",
      (s, d) => corpus(s, d)
        .select(col("doc_id"), sph(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${ph("text")} AS fp
              |FROM ($corpusSql) ORDER BY doc_id""".stripMargin)),

    // token counting: whitespace tokens + a BPE-ish chars/4 estimate
    QueryDef(
      "q_token_count",
      (s, d) => corpus(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        length(col("text")).as("n_chars"),
        expr("(length(text) + 3) DIV 4").as("est_bpe"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
              |  len(text) AS n_chars, (len(text) + 3) // 4 AS est_bpe
              |FROM ($corpusSql) ORDER BY doc_id""".stripMargin)),

    // REAL subword tokenization (greedy longest-match over the fixed
    // in-repo vocab — the deterministic BPE inference rule): per-doc
    // token count from the SubwordVocab trie codegen kernel, one tight per-row
    // loop, zero shuffle. The oracle replays the exact greedy rule with
    // a recursive CTE over the distinct word set.
    QueryDef(
      "q_subword_tokens",
      (s, d) => corpus(s, d).select(
        col("doc_id"),
        TextFunctions.tokenize_count(lower(col("text"))).as("bpe_tokens"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE src AS ($corpusSql),
              |$tokCountCtes
              |SELECT s.doc_id, tc.bpe_tokens,
              |  CAST(len(string_split(s.text, ' ')) AS BIGINT) AS n_words
              |FROM src s JOIN tc ON s.doc_id = tc.doc_id
              |ORDER BY s.doc_id""".stripMargin)),

    // TOKEN-ID streams (what a training pipeline actually feeds the
    // model): per word, the greedy longest-match token IDs — vocab
    // index for multi-char entries, FallbackBase + code point for single-char
    // fallback. Pure per-row expression work (split → codegen
    // tokenize_ids → posexplode), zero shuffle before the output sort;
    // the oracle replays the greedy rule as a recursive CTE over the
    // DISTINCT word set with a single-sourced id CASE, joined back to
    // the word occurrences. Sliced to doc_id % 16 = 0 to keep the gate
    // dump bounded — the operator itself is corpus-wide.
    QueryDef(
      "q_tokenize_ids",
      (s, d) => corpus(s, d)
        .filter(pmod(col("doc_id"), lit(16)) === 0)
        .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
        .toDF("doc_id", "wi", "w")
        .select(col("doc_id"), col("wi").cast("long").as("wi"),
          posexplode(TextFunctions.tokenize_ids(col("w"))))
        .toDF("doc_id", "wi", "j", "tid")
        .select(col("doc_id"), col("wi"), col("j").cast("long").as("j"),
          col("tid").cast("long").as("tid"))
        .orderBy("doc_id", "wi", "j"),
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT doc_id, text FROM ($corpusSql) WHERE doc_id % 16 = 0),
              |$tokIdCtes
              |SELECT doc_id, wi, j, tid FROM wd JOIN wt USING (w)
              |ORDER BY doc_id, wi, j""".stripMargin)),

    // PACKED-BATCH MATERIALIZATION — the step after q_pack_sequences
    // that actually produces what the trainer consumes: each (shard,
    // bin)'s concatenated token-ID stream, docs in doc_id order, ids in
    // (word, in-word) order. Same per-shard prefix-sum binning as
    // q_pack_sequences (bins agree by construction: per-doc id-row
    // count ≡ tokenize_count), then one (shard, bin) groupBy whose
    // output row is bounded by the 2048-token budget — at any scale a
    // bin's ids fit one row, so materialization is a plain aggregate,
    // never a wide collect.
    QueryDef(
      "q_pack_materialize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dt = corpus(s, d)
          .filter(pmod(col("doc_id"), lit(32L)) < 4)
          .select(col("doc_id"), pmod(col("doc_id"), lit(32L)).as("shard"),
            posexplode(split(lower(col("text")), " ")))
          .toDF("doc_id", "shard", "wi", "w")
          .select(col("doc_id"), col("shard"), col("wi"),
            posexplode(TextFunctions.tokenize_ids(col("w"))))
          .toDF("doc_id", "shard", "wi", "j", "tid")
          .groupBy("doc_id", "shard")
          .agg(
            expr("array_join(transform(array_sort(collect_list(" +
              "struct(wi, j, tid))), x -> CAST(x.tid AS STRING)), ' ')")
              .as("ids"),
            count(lit(1)).as("toks"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        dt.withColumn("csum", coalesce(sum(col("toks")).over(w), lit(0L)))
          .withColumn("bin", expr("csum DIV 2048"))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("toks")).as("bin_tokens"),
            expr("array_join(transform(array_sort(collect_list(" +
              "struct(doc_id, ids))), x -> x.ids), ' ')").as("input_ids"))
          .orderBy("shard", "bin")
      },
      Some(s"""WITH RECURSIVE src AS (
              |  SELECT doc_id, text FROM ($corpusSql) WHERE doc_id % 32 < 4),
              |$tokIdCtes,
              |dt AS (SELECT doc_id, doc_id % 32 AS shard,
              |    string_agg(CAST(tid AS STRING), ' ' ORDER BY wi, j) AS ids,
              |    CAST(count(*) AS BIGINT) AS toks
              |  FROM wd JOIN wt USING (w) GROUP BY doc_id),
              |b AS (SELECT shard, doc_id, ids, toks,
              |    CAST(coalesce(sum(toks) OVER (PARTITION BY shard
              |      ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) // 2048 AS bin
              |  FROM dt)
              |SELECT shard, bin, count(*) AS n_docs,
              |  CAST(sum(toks) AS BIGINT) AS bin_tokens,
              |  string_agg(ids, ' ' ORDER BY doc_id) AS input_ids
              |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin)),

    // language-ID heuristic: scaled stopword scores, deterministic CASE
    QueryDef(
      "q_lang_id",
      (s, d) => corpus(s, d)
        .select(col("doc_id"), expr(langIdCase("length")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  ${langIdCase("len")} AS lang_pred
              |FROM ($corpusSql) ORDER BY doc_id""".stripMargin)),

    // quality scoring: integer-scaled length / stopword ratios
    QueryDef(
      "q_quality_score",
      (s, d) => corpus(s, d).select(col("doc_id"),
        expr("length(text) * 100 DIV greatest(size(split(text, ' ')), 1)").as("avg_tok_len_x100"),
        expr("CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) * 1000 " +
          "DIV greatest(size(split(text, ' ')), 1)").as("stop_ratio_x1000"),
        (length(col("text")) < 100).cast("int").as("too_short"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  len(text) * 100 // greatest(len(string_split(text, ' ')), 1) AS avg_tok_len_x100,
              |  CAST((len(lower(text)) - len(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) * 1000
              |    // greatest(len(string_split(text, ' ')), 1) AS stop_ratio_x1000,
              |  CAST(len(text) < 100 AS INTEGER) AS too_short
              |FROM ($corpusSql) ORDER BY doc_id""".stripMargin)),

    // the canonical training-data filter CHAIN, composed from the
    // operators above: exact-dedup keeper → length floor → language
    // gate, reported per predicted language (counts + id-sum/min/max —
    // an order-invariant exact check without a shared hash function)
    QueryDef(
      "q_corpus_filter",
      (s, d) => {
        corpus(s, d)
          .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
          .filter(length(col("text")) >= 100)
          .withColumn("lang_pred", expr(langIdCase("length")))
          // length-quartile buckets keep the report multi-row on a
          // monolingual corpus — a richer exact check than one total
          .withColumn("len_bucket", expr("length(text) DIV 200"))
          .groupBy("lang_pred", "len_bucket")
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .orderBy("lang_pred", "len_bucket")
      },
      Some {
        s"""WITH k AS (SELECT text, min(doc_id) AS doc_id
           |  FROM ($corpusSql) GROUP BY text),
           |f AS (SELECT doc_id, text FROM k WHERE len(text) >= 100),
           |l AS (SELECT doc_id,
           |  ${langIdCase("len")} AS lang_pred
           |  , len(text) // 200 AS len_bucket
           |  FROM f)
           |SELECT lang_pred, len_bucket, count(*) AS n_kept,
           |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           |  min(doc_id) AS min_id, max(doc_id) AS max_id
           |FROM l GROUP BY lang_pred, len_bucket
           |ORDER BY lang_pred, len_bucket""".stripMargin
      }),

    // stratified (per-language) sampling — the data-MIXING op of a
    // training pipeline: each language keeps a different per-mille rate
    // via a deterministic hash of doc_id (engine-common LCG multiply,
    // not xxhash — DuckDB has no xxhash64), so the sampled set is
    // reproducible at any parallelism and exactly mirrored in SQL.
    // Report: per-language kept counts + id-sum/min/max (order-
    // invariant exact check), plus the configured rate.
    QueryDef(
      "q_stratified_sample",
      (s, d) => corpus(s, d)
        .withColumn("lang_pred", expr(langIdCase("length")))
        .withColumn("rate",
          expr("CASE lang_pred WHEN 'en' THEN 100 WHEN 'fr' THEN 500 " +
            "WHEN 'es' THEN 500 ELSE 1000 END"))
        .filter(pmod(col("doc_id") * 2654435761L, lit(1000L)) < col("rate"))
        .withColumn("len_bucket", expr("length(text) DIV 200"))
        .groupBy("lang_pred", "rate", "len_bucket")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("lang_pred", "len_bucket"),
      Some(s"""WITH l AS (SELECT doc_id, text,
             |  ${langIdCase("len")} AS lang_pred
             |  FROM ($corpusSql)),
             |r AS (SELECT doc_id, lang_pred,
             |  CASE lang_pred WHEN 'en' THEN 100 WHEN 'fr' THEN 500
             |    WHEN 'es' THEN 500 ELSE 1000 END AS rate,
             |  len(text) // 200 AS len_bucket
             |  FROM l)
             |SELECT lang_pred, rate, len_bucket, count(*) AS n_kept,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM r WHERE (doc_id * 2654435761) % 1000 < rate
             |GROUP BY lang_pred, rate, len_bucket
             |ORDER BY lang_pred, len_bucket""".stripMargin)),

    // sequence PACKING — the token-budget batching op before training:
    // documents pack greedily in doc_id order into bins of ≤2048 REAL
    // subword tokens (the SubwordVocab greedy longest-match tokenizer — not a
    // length estimate), PER SHARD (shard = doc_id % 32) so the
    // running-sum window parallelizes — a single global ordering window
    // would serialize 10^12 rows through one partition; per-shard
    // packing is the standard scale shape (shards ≈ data-loader
    // workers). bin = exclusive-prefix-sum(tokens) div budget, exact in
    // both engines. Report: per (shard, bin) doc count + token fill for
    // the first 4 shards (bounded output at any SF).
    QueryDef(
      "q_pack_sequences",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        corpus(s, d)
          .select(col("doc_id"),
            TextFunctions.tokenize_count(lower(col("text"))).as("toks"),
            pmod(col("doc_id"), lit(32L)).as("shard"))
          .filter(col("shard") < 4)
          .withColumn("csum", coalesce(sum(col("toks")).over(w), lit(0L)))
          .withColumn("bin", expr("csum DIV 2048"))
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("fill_toks"),
            min(col("doc_id")).as("first_id"))
          .orderBy("shard", "bin")
      },
      Some(s"""WITH RECURSIVE src AS (
             |  SELECT doc_id, text FROM ($corpusSql) WHERE doc_id % 32 < 4),
             |$tokCountCtes,
             |t AS (SELECT s.doc_id, tc.bpe_tokens AS toks, s.doc_id % 32 AS shard
             |  FROM src s JOIN tc ON s.doc_id = tc.doc_id),
             |b AS (SELECT shard, doc_id, toks,
             |    CAST(coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      // 2048 AS bin
             |  FROM t)
             |SELECT shard, bin, count(*) AS n_docs,
             |  CAST(sum(toks) AS BIGINT) AS fill_toks,
             |  min(doc_id) AS first_id
             |FROM b GROUP BY shard, bin ORDER BY shard, bin""".stripMargin)),

    // intra-document REPETITION scoring (the Gopher/MassiveText-style
    // quality filter): fraction of duplicate word-3-grams per document,
    // scaled to exact integer per-mille. distinct count reuses the
    // shingle_hashes codegen kernel (same polynomial hash both
    // engines, so collisions — if any — are identical); total = the
    // 3-gram count from the token count. Pure per-row map, no shuffle
    // beyond the final sort.
    QueryDef(
      "q_repetition_filter",
      (s, d) => corpus(s, d)
        .select(col("doc_id"),
          greatest(size(split(lower(col("text")), " ")) - 2, lit(0))
            .cast("long").as("total_3g"),
          size(shingleSet(col("text"))).cast("long").as("distinct_3g"))
        .withColumn("dup_milli",
          expr("(total_3g - distinct_3g) * 1000 DIV greatest(total_3g, 1)"))
        .withColumn("too_repetitive", (col("dup_milli") > 100).cast("int"))
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id,
             |    string_split(lower(text), ' ') AS toks
             |  FROM ($corpusSql)),
             |sh AS (SELECT doc_id,
             |    CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS total_3g,
             |    CAST(len($shingleSetSql) AS BIGINT) AS distinct_3g
             |  FROM tk),
             |dm AS (SELECT doc_id, total_3g, distinct_3g,
             |    (total_3g - distinct_3g) * 1000 // greatest(total_3g, 1)
             |      AS dup_milli
             |  FROM sh)
             |SELECT doc_id, total_3g, distinct_3g, dup_milli,
             |  CAST(dup_milli > 100 AS INTEGER) AS too_repetitive
             |FROM dm ORDER BY doc_id""".stripMargin)),

    // per-SOURCE caps (the domain-cap op of a crawl pipeline: at most K
    // documents per host/domain, deterministic keeper order): window
    // rank by doc_id within source, keep rn ≤ 10. Partitioned by
    // source, so the window parallelizes across domains at any scale —
    // exactly the per-host-cap shape Common-Crawl dedup uses.
    QueryDef(
      "q_source_cap",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("doc_id")
        Tables.t(s, d, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("doc_id", "source", "rn")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, CAST(rn AS INTEGER) AS rn FROM (
             |  SELECT doc_id, source, row_number() OVER (
             |    PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),

    // PARAGRAPH-HASH dedup (the CCNet/RefinedWeb boilerplate-removal
    // op): explode documents into paragraphs, hash each, keep a
    // paragraph only in its FIRST occurrence (min (doc_id, idx) per
    // hash), reassemble the surviving text per doc. The fixture plants
    // a global copyright line in every doc and a promo line in every
    // 5th, so the op has real cross-document boilerplate to strip.
    // Scale shape: keeper election = one hash groupBy with map-side
    // partial min (the global boilerplate key is the hottest key a
    // crawl has — partials absorb it); keep test = hash equi-join
    // co-partitioned with the election; reassembly = one doc_id
    // groupBy. Nothing all-pairs, nothing driver-side; keying on the
    // 64-bit-ish hash (not the paragraph bytes) keeps the shuffle rows
    // narrow — the exact CCNet construction (they key on SHA1 prefix).
    QueryDef(
      "q_para_dedup",
      (s, d) => {
        val paras = Tables.t(s, d, "documents")
          .select(col("doc_id"), posexplode(array(
            lit("copyright boilerplate all rights reserved"),
            col("text"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              lit("subscribe to our newsletter today")))))
          .toDF("doc_id", "idx", "para")
          .filter(col("para").isNotNull)
          .withColumn("h", sph(col("para")))
          .withColumn("occ", col("doc_id") * 10L + col("idx"))
        val keeper = paras.groupBy("h")
          .agg(min(col("occ")).as("keep_occ"))
        // the election side scales WITH the corpus (one row per distinct
        // paragraph) — never broadcastable; Spark byte-underestimates
        // post-agg sides, so force the co-partitioned shuffled-hash form
        paras.join(keeper.hint("shuffle_hash"), "h")
          .withColumn("kept", col("occ") === col("keep_occ"))
          .groupBy("doc_id")
          .agg(
            expr("array_join(transform(array_sort(collect_list(" +
              "CASE WHEN kept THEN struct(idx, para) END)), " +
              "x -> x.para), ' ')").as("text_dedup"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
          .orderBy("doc_id")
      },
      Some(s"""WITH pr AS (
              |  SELECT doc_id, idx, para FROM (
              |    SELECT doc_id, unnest(['copyright boilerplate all rights reserved',
              |        text,
              |        CASE WHEN doc_id % 5 = 0
              |          THEN 'subscribe to our newsletter today' END]) AS para,
              |      unnest([0, 1, 2]) AS idx
              |    FROM documents)
              |  WHERE para IS NOT NULL),
              |ph AS (SELECT doc_id, idx, para, ${ph("para")} AS h,
              |    doc_id * 10 + idx AS occ FROM pr),
              |kp AS (SELECT h, min(occ) AS keep_occ FROM ph GROUP BY h)
              |SELECT doc_id,
              |  coalesce(string_agg(para, ' ' ORDER BY idx)
              |    FILTER (WHERE occ = keep_occ), '') AS text_dedup,
              |  CAST(count(*) FILTER (WHERE occ = keep_occ) AS BIGINT) AS n_kept,
              |  CAST(count(*) FILTER (WHERE occ <> keep_occ) AS BIGINT) AS n_dropped
              |FROM ph JOIN kp USING (h)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // EXACT-SUBSTRING span dedup (the token-level "dedup training data"
    // op of Lee et al. 2022: find ≥k-token substrings that occur more
    // than once ANYWHERE in the corpus, keep only the first occurrence):
    // positional 5-token shingle hashes per doc, a global first-
    // occurrence election per hash, every non-first occurrence of a
    // repeated shingle marks its 5 positions as duplicated span; the
    // per-doc report counts covered tokens and the dup per-mille (the
    // quantity the paper trims). The planted exact-dup docs come out
    // fully covered, near-dups partially — and natural 5-gram repeats
    // count too, which is the operator's actual semantics. Scale shape:
    // one doc-keyed window (tokenize+shingle), one hash groupBy with
    // map-side partial min/count (the election — hot boilerplate grams
    // are absorbed map-side), one co-partitioned hash join back, then
    // doc-keyed aggregates; the suffix-array of the paper is replaced
    // by the hash election, the standard distributed construction —
    // never all-pairs, nothing driver-side.
    QueryDef(
      "q_substr_dedup",
      (s, d) => {
        val dupStarts = substrDupStarts(s, d)
        val covered = dupStarts
          .select(col("doc_id"), explode(expr("sequence(pos, pos + 4)")).as("p"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("covered"))
        val starts = dupStarts.groupBy("doc_id")
          .agg(count(lit(1)).as("dup_starts"))
        corpus(s, d)
          .select(col("doc_id"),
            size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
          .join(starts.hint("shuffle_hash"), Seq("doc_id"), "left")
          .join(covered.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
            coalesce(col("covered"), lit(0L)).as("covered_tokens"))
          .withColumn("dup_milli",
            expr("covered_tokens * 1000 DIV n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $substrDupCtes,
              |cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS covered
              |  FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM dup)
              |  GROUP BY doc_id),
              |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_starts
              |  FROM dup GROUP BY doc_id),
              |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
              |  FROM tk)
              |SELECT nt.doc_id, nt.n_tokens,
              |  coalesce(ds.dup_starts, 0) AS dup_starts,
              |  coalesce(cov.covered, 0) AS covered_tokens,
              |  coalesce(cov.covered, 0) * 1000 // nt.n_tokens AS dup_milli
              |FROM nt LEFT JOIN ds USING (doc_id) LEFT JOIN cov USING (doc_id)
              |ORDER BY nt.doc_id""".stripMargin)),

    // EXACT-SUBSTRING dedup, MATERIALIZED (the paper's actual output —
    // the trimmed corpus): drop every token inside a duplicated span
    // (anti-join tokens against the exploded span cover), reassemble
    // the surviving text per document in position order. Fully covered
    // docs (the planted exact dups) come out as empty strings — i.e.
    // removed from the training set. Same scale shape as
    // q_substr_dedup plus one doc_id+pos anti-join and one doc groupBy.
    QueryDef(
      "q_substr_trim",
      (s, d) => {
        val toks = substrToks(s, d)
        val covered = substrDupStarts(s, d)
          .select(col("doc_id"),
            explode(expr("sequence(pos, pos + 4)")).as("pos"))
          .distinct()
        val trimmed = toks
          .join(covered.hint("shuffle_hash"), Seq("doc_id", "pos"),
            "left_anti")
          .groupBy("doc_id")
          .agg(
            expr("array_join(transform(array_sort(collect_list(" +
              "struct(pos, w))), x -> x.w), ' ')").as("text_trim"),
            count(lit(1)).as("kept_tokens"))
        corpus(s, d).select(col("doc_id"),
            size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
          .join(trimmed.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("text_trim"), lit("")).as("text_trim"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
            col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $substrDupCtes,
              |cv AS (SELECT DISTINCT doc_id, p AS pos FROM
              |  (SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM dup)),
              |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w
              |  FROM tk, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
              |kt AS (SELECT t.doc_id, t.pos, t.w
              |  FROM tok t LEFT JOIN cv ON t.doc_id = cv.doc_id AND t.pos = cv.pos
              |  WHERE cv.pos IS NULL),
              |tr AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_trim,
              |    CAST(count(*) AS BIGINT) AS kept_tokens
              |  FROM kt GROUP BY doc_id),
              |nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk)
              |SELECT nt.doc_id, coalesce(tr.text_trim, '') AS text_trim,
              |  coalesce(tr.kept_tokens, 0) AS kept_tokens, nt.n_tokens
              |FROM nt LEFT JOIN tr USING (doc_id)
              |ORDER BY nt.doc_id""".stripMargin)),

    // PERPLEXITY (unigram-LM) quality filter — the CCNet-style "does a
    // language model like this text" gate: per-token mean negative
    // log-probability under a FIXED in-repo unigram model (integer
    // micro-nats, OOV penalty), keep docs under a fixed ceiling. The
    // model table is the broadcast side (a real KenLM vocab is a few
    // hundred MB — still the broadcast/dim side of the join at crawl
    // scale); one explode → broadcast-left-join → doc_id groupBy with
    // map-side partials. All integers, so both engines agree exactly.
    QueryDef(
      "q_ppl_filter",
      (s, d) => {
        import s.implicits._
        val vocabDf = broadcast(PplVocab.toDF("w", "nlp"))
        corpus(s, d)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("w"))
          .join(vocabDf, Seq("w"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_words"),
            sum(coalesce(col("nlp"), lit(PplOov))).as("nll_sum"))
          .withColumn("nll_micro", expr("nll_sum DIV n_words"))
          .withColumn("kept", (col("nll_micro") < PplKeepBelow).cast("int"))
          .select("doc_id", "n_words", "nll_micro", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH v(w, nlp) AS (VALUES ${
                PplVocab.map { case (w, p) => s"('$w', $p)" }.mkString(", ")}),
              |tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              |  FROM ($corpusSql)),
              |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |    CAST(sum(coalesce(v.nlp, $PplOov)) AS BIGINT) AS nll_sum
              |  FROM tk LEFT JOIN v USING (w) GROUP BY doc_id)
              |SELECT doc_id, n_words, nll_sum // n_words AS nll_micro,
              |  CAST(nll_sum // n_words < $PplKeepBelow AS INTEGER) AS kept
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // GOPHER RULE SET (Rae et al. 2021 §A1.1, the canonical pre-filter
    // repertoire beyond the repetition gate): word-count bounds, mean
    // word length window, alphabetic-word fraction floor, and required
    // stop-word presence — each an integer per-mille/centi rule with
    // its own flag plus the conjunction. Pure per-row builtins and
    // array HOFs, zero shuffle before the output sort; the oracle is
    // the identical algebra over DuckDB's list functions.
    QueryDef(
      "q_gopher_rules",
      (s, d) => corpus(s, d)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .withColumn("n_words", expr("size(split(t, ' '))").cast("long"))
        .withColumn("mean_len_centi",
          expr("length(replace(t, ' ', '')) * 100 DIV n_words"))
        .withColumn("alpha_milli", expr(
          "size(filter(split(t, ' '), w -> w rlike '[a-z]')) * 1000 DIV n_words"))
        .withColumn("n_stop", expr(
          "size(array_intersect(split(t, ' '), array('the','a','of','to','and')))")
          .cast("long"))
        .select(col("doc_id"), col("n_words"), col("mean_len_centi"),
          col("alpha_milli"), col("n_stop"),
          (col("n_words") >= 20 && col("n_words") <= 100000).cast("int")
            .as("ok_count"),
          (col("mean_len_centi") >= 300 && col("mean_len_centi") <= 1000)
            .cast("int").as("ok_meanlen"),
          (col("alpha_milli") >= 800).cast("int").as("ok_alpha"),
          (col("n_stop") >= 2).cast("int").as("ok_stop"))
        .withColumn("pass", (col("ok_count") === 1 && col("ok_meanlen") === 1 &&
          col("ok_alpha") === 1 && col("ok_stop") === 1).cast("int"))
        .orderBy("doc_id"),
      Some(s"""WITH c AS ($corpusSql),
              |m AS (SELECT doc_id, lower(text) AS t,
              |    string_split(lower(text), ' ') AS toks
              |  FROM c),
              |r AS (SELECT doc_id,
              |    CAST(len(toks) AS BIGINT) AS n_words,
              |    len(replace(t, ' ', '')) * 100 // len(toks) AS mean_len_centi,
              |    len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              |      * 1000 // len(toks) AS alpha_milli,
              |    CAST(len(list_intersect(toks,
              |      ['the','a','of','to','and'])) AS BIGINT) AS n_stop
              |  FROM m)
              |SELECT doc_id, n_words, mean_len_centi, alpha_milli, n_stop,
              |  CAST(n_words BETWEEN 20 AND 100000 AS INTEGER) AS ok_count,
              |  CAST(mean_len_centi BETWEEN 300 AND 1000 AS INTEGER)
              |    AS ok_meanlen,
              |  CAST(alpha_milli >= 800 AS INTEGER) AS ok_alpha,
              |  CAST(n_stop >= 2 AS INTEGER) AS ok_stop,
              |  CAST(n_words BETWEEN 20 AND 100000
              |    AND mean_len_centi BETWEEN 300 AND 1000
              |    AND alpha_milli >= 800 AND n_stop >= 2 AS INTEGER) AS pass
              |FROM r ORDER BY doc_id""".stripMargin)),

    // DSIR-style IMPORTANCE RESAMPLING (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling",
    // deterministic unigram form): per-token importance weight =
    // log p_target − log p_raw under two FIXED models (target = the
    // PplVocab unigram LM, raw = uniform over the observed vocab,
    // ln 31 ≈ 3.434 micro-nats for every token incl. OOV); per-doc
    // weight = the per-token mean. Selection is the deterministic
    // analogue of the paper's Gumbel top-k: a weight-dependent keep
    // rate (per-mille, linear in the log-ratio, clamped) compared
    // against the engine-common multiplicative doc hash — reproducible
    // at any parallelism, no global sort. Same scale shape as the ppl
    // filter: one explode, one broadcast model join, one doc groupBy.
    QueryDef(
      "q_dsir_sample",
      (s, d) => {
        import s.implicits._
        val vocabDf = broadcast(PplVocab.toDF("w", "nlp"))
        corpus(s, d)
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("w"))
          .join(vocabDf, Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(lit(DsirRawNlp) - coalesce(col("nlp"), lit(PplOov)))
              .as("lw_sum"))
          .withColumn("wt_micro", expr("lw_sum DIV n_words"))
          .withColumn("keep_milli", greatest(lit(0L), least(lit(1000L),
            lit(500L) + expr("(wt_micro + 1700000) DIV 1500"))))
          .withColumn("kept",
            (pmod(col("doc_id") * 2654435761L, lit(1000L)) <
              col("keep_milli")).cast("int"))
          .select("doc_id", "n_words", "wt_micro", "keep_milli", "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH v(w, nlp) AS (VALUES ${
                PplVocab.map { case (w, p) => s"('$w', $p)" }.mkString(", ")}),
              |tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              |  FROM ($corpusSql)),
              |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |    CAST(sum($DsirRawNlp - coalesce(v.nlp, $PplOov)) AS BIGINT)
              |      AS lw_sum
              |  FROM tk LEFT JOIN v USING (w) GROUP BY doc_id),
              |wt AS (SELECT doc_id, n_words, lw_sum // n_words AS wt_micro
              |  FROM sc),
              |km AS (SELECT doc_id, n_words, wt_micro,
              |    greatest(0, least(1000, 500 + (wt_micro + 1700000) // 1500))
              |      AS keep_milli
              |  FROM wt)
              |SELECT doc_id, n_words, wt_micro, keep_milli,
              |  CAST((doc_id * 2654435761) % 1000 < keep_milli AS INTEGER)
              |    AS kept
              |FROM km ORDER BY doc_id""".stripMargin)),

    // BENCHMARK DECONTAMINATION (Brown et al. 2020 app. C / Dodge et
    // al. 2021): drop training documents that share any word-8-gram
    // with a held-out evaluation set. Eval sets are SMALL by
    // definition, so their distinct 8-gram hashes broadcast (still
    // counted + bounded like every derived build side) and the corpus
    // side stays one narrow scan + per-row gram hashing + one
    // broadcast semi-join — at 100 TB the corpus never shuffles for
    // this, only its per-doc counters do. The synthetic eval set is
    // documents with doc_id % 37 == 0, so the corpus copies of those
    // docs come out 1000‰ contaminated and their planted near-dup
    // variants nearly so.
    QueryDef(
      "q_decontaminate",
      (s, d) => {
        // word_gram_hashes: one fused codegen loop per row (the
        // interpreted transform + 8-way concat dominated this gate)
        def grams8(df: DataFrame): DataFrame = df.select(col("doc_id"),
          TextFunctions.word_gram_hashes(lower(col("text")), 8).as("g8s"))
        TextFunctions.register(s)
        val bench = grams8(Tables.t(s, d, "documents")
          .filter(pmod(col("doc_id"), lit(37)) === 0)
          .select("doc_id", "text"))
          .select(explode(col("g8s")).as("g8"))
          .distinct().localCheckpoint()
        val benchHinted = graft.util.Joins
          .boundedBroadcast(bench.withColumn("hit", lit(1)),
            bench.count(), 4000000L)
        // ONE corpus pass, no doc_id-wide join: explode_OUTER keeps a
        // null-gram row for <8-word docs, so total (count skips nulls)
        // and contaminated gram counts come out of a single broadcast
        // left-join + aggregate — at 100 TB the corpus is scanned
        // once and never shuffled except for the per-doc counters
        grams8(corpus(s, d))
          .select(col("doc_id"), explode_outer(col("g8s")).as("g8"))
          .join(benchHinted, Seq("g8"), "left_outer")
          .groupBy("doc_id")
          .agg(count(col("g8")).as("total8"), count(col("hit")).as("contam8"))
          .withColumn("contam_milli",
            expr("contam8 * 1000 DIV greatest(total8, 1)"))
          .withColumn("kept", (col("contam8") === 0L).cast("int"))
          .orderBy("doc_id")
      },
      Some {
        val duck8 =
          "list_transform(range(1, greatest(len(toks) - 6, 1)), i -> " +
            ph((0 to 7).map(o => s"toks[i + $o]").mkString(" || ' ' || ")) + ")"
        s"""WITH c AS ($corpusSql),
           |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM c),
           |g AS (SELECT doc_id, unnest($duck8) AS g8 FROM tk),
           |bt AS (SELECT string_split(lower(text), ' ') AS toks
           |  FROM documents WHERE doc_id % 37 = 0),
           |b AS (SELECT DISTINCT unnest($duck8) AS g8 FROM bt),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total8
           |  FROM g GROUP BY doc_id),
           |con AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS contam8
           |  FROM g JOIN b USING (g8) GROUP BY doc_id)
           |SELECT c.doc_id, coalesce(tot.total8, 0) AS total8,
           |  coalesce(con.contam8, 0) AS contam8,
           |  coalesce(con.contam8, 0) * 1000
           |    // greatest(coalesce(tot.total8, 0), 1) AS contam_milli,
           |  CAST(coalesce(con.contam8, 0) = 0 AS INTEGER) AS kept
           |FROM c LEFT JOIN tot ON c.doc_id = tot.doc_id
           |LEFT JOIN con ON c.doc_id = con.doc_id
           |ORDER BY c.doc_id""".stripMargin
      }),

    // BPE MERGE STATISTICS — the aggregation a distributed tokenizer
    // TRAINER iterates (graft.tools.VocabGen runs it driver-side; this
    // is the corpus-scale shape): adjacent token-id pair frequencies
    // under the CURRENT vocab, computed on the DISTINCT-WORD frequency
    // table — the classic BPE trainer representation, so the pair
    // explosion is O(distinct words · word length), independent of
    // corpus row count; occurrence weights ride a tiny (word, count)
    // aggregate. Runs under a REDUCED vocab (the default's entries of
    // ≤ 3 chars — mid-training, before whole words merged), which both
    // makes the statistics non-degenerate (full-vocab words are mostly
    // single tokens) and drives the tokenizer's parameterized-vocab
    // API through a driver gate. Top-20 by (count, t1, t2) — fully
    // ordered, so the LIMIT is deterministic.
    QueryDef(
      "q_bpe_pair_stats",
      (s, d) => {
        val wf = corpus(s, d)
          .select(explode(split(lower(col("text")), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wc"))
        wf.select(col("wc"),
            TextFunctions.tokenize_ids(col("w"), bpeStatsVocab).as("ids"))
          .filter(size(col("ids")) >= 2)
          .select(col("wc"), explode(expr(
            "transform(sequence(1, size(ids) - 1), i -> " +
              "struct(element_at(ids, i) AS t1, element_at(ids, i + 1) AS t2))"))
            .as("p"))
          .groupBy(col("p.t1").cast("long").as("t1"),
            col("p.t2").cast("long").as("t2"))
          .agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("t1"), col("t2"))
          .limit(20)
      },
      Some(s"""WITH RECURSIVE src AS ($corpusSql),
              |${tokIdCtes(bpeStatsVocab)},
              |pc AS (SELECT a.w, a.tid AS t1, b.tid AS t2
              |  FROM wt a JOIN wt b ON a.w = b.w AND b.j = a.j + 1),
              |wcnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
              |  FROM wd GROUP BY w)
              |SELECT t1, t2, CAST(sum(c) AS BIGINT) AS n
              |FROM pc JOIN wcnt USING (w)
              |GROUP BY t1, t2 ORDER BY n DESC, t1, t2 LIMIT 20""".stripMargin)),

    // exact dedup — FINGERPRINT-keyed election. Grouping directly on
    // `text` would hash, serialize, and sort-compare multi-KB document
    // keys through the exchange (at 100 TB that is the corpus' distinct
    // bytes through the shuffle). Instead shuffle rows carry
    // (xxhash64(text), length(text)) — 16 bytes — with length in the
    // key so a 64-bit collision between different-length texts cannot
    // silently merge groups. A SAME-length collision (2^-64) would
    // silently drop a distinct document from this gate's (keeper,
    // n_copies) report; only the PIPELINE dedup stage's semi-join
    // consumers, which re-read the text, could surface it downstream —
    // accepted at that probability, same as the CCNet construction
    // keying on SHA1 prefixes. Same shape as the paragraph election.
    QueryDef(
      "q_dedup_exact",
      (s, d) => corpus(s, d)
        .select(col("doc_id"), xxhash64(col("text")).as("fp"),
          length(col("text")).cast("long").as("len"))
        .groupBy("fp", "len")
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select("keeper", "n_copies")
        .orderBy("keeper"),
      Some(s"""SELECT min(doc_id) AS keeper, count(*) AS n_copies
              |FROM ($corpusSql) GROUP BY text HAVING count(*) > 1
              |ORDER BY keeper""".stripMargin)),

    // INCREMENTAL (cross-crawl) exact dedup — the shape a monthly
    // crawl pipeline actually runs: the NEW crawl dedups against (a)
    // itself and (b) the accumulated FINGERPRINT index of all prior
    // crawls — (fp, len), 16 B per historical doc, so history costs
    // fingerprints, never text, and the prior corpus is never re-read.
    // The old-index join is forced shuffled-hash (the index is
    // history-sized; broadcast would OOM at crawl scale) and the
    // in-crawl election window shares its (fp, len) partitioning with
    // that join — one Exchange covers both. Verdict precedence
    // dup_old > dup_new is fixed so both engines label doubly-dup docs
    // identically. Old crawl = even base docs; the planted exact
    // clones (+2000000) then split into cross-crawl dups (even base →
    // dup_old) and in-crawl dups (odd base, base + clone both new →
    // clone is dup_new).
    QueryDef(
      "q_dedup_incremental",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val all = corpus(s, d).select(col("doc_id"),
          xxhash64(col("text")).as("fp"),
          length(col("text")).cast("long").as("len"))
        val oldIdx = all
          .filter(col("doc_id") < 1000000L && pmod(col("doc_id"), lit(2)) === 0)
          .select("fp", "len").distinct()
          .withColumn("in_old", lit(1))
        val neu = all
          .filter(col("doc_id") >= 1000000L || pmod(col("doc_id"), lit(2)) === 1)
        val w = Window.partitionBy("fp", "len")
        neu.join(oldIdx.hint("shuffle_hash"), Seq("fp", "len"), "left_outer")
          .withColumn("minid", min(col("doc_id")).over(w))
          .select(col("doc_id"),
            when(col("in_old") === 1, lit("dup_old"))
              .when(col("doc_id") =!= col("minid"), lit("dup_new"))
              .otherwise(lit("kept")).as("verdict"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS ($corpusSql),
              |o AS (SELECT DISTINCT text FROM c
              |  WHERE doc_id < 1000000 AND doc_id % 2 = 0),
              |n AS (SELECT doc_id, text FROM c
              |  WHERE doc_id >= 1000000 OR doc_id % 2 = 1),
              |m AS (SELECT doc_id,
              |    min(doc_id) OVER (PARTITION BY text) AS minid,
              |    CAST(text IN (SELECT text FROM o) AS INTEGER) AS in_old
              |  FROM n)
              |SELECT doc_id, CASE WHEN in_old = 1 THEN 'dup_old'
              |  WHEN doc_id <> minid THEN 'dup_new' ELSE 'kept' END AS verdict
              |FROM m ORDER BY doc_id""".stripMargin)),

    // minhash signatures: k=8 linear hashes over word-3-gram shingles,
    // computed per row (narrow, no shuffle before the final sort)
    QueryDef(
      "q_minhash_sig",
      (s, d) => shingled(s, d)
        .select(col("doc_id"), posexplode(minhashSig(col("shs"))))
        .withColumnRenamed("pos", "j")
        .withColumnRenamed("col", "mh")
        .orderBy("doc_id", "j"),
      Some(s"""WITH c AS ($corpusSql),
              |tk AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM c),
              |sh AS (SELECT doc_id, unnest($shingleSetSql) AS x FROM tk),
              |ex AS (SELECT doc_id, x, unnest(range(0, 8)) AS j FROM sh)
              |SELECT doc_id, j,
              |  CAST(min(((1 + j * 2) * x % 1000000007 + j * 17 % 1000000007)
              |       % 1000000007) AS BIGINT) AS mh
              |FROM ex GROUP BY doc_id, j ORDER BY doc_id, j""".stripMargin)),

    // minhash + LSH banding (r=2, b=4) + exact-jaccard verify ≥ 0.5
    QueryDef(
      "q_dedup_minhash_lsh",
      (s, d) => verifiedPairs(s, d).orderBy("d1", "d2"),
      Some(s"""$verifiedPairsCte
              |SELECT d1, d2, jacc1000 FROM vp ORDER BY d1, d2""".stripMargin)),

    // near-dup CLUSTER FORMATION: connected components over the
    // verified-pair graph. Spark: min-label propagation to fixed point
    // (O(component diameter) rounds — diameter ≤ 2-3 for dup clusters;
    // each round one join + one map-side-combined min agg, the GraphX/
    // GraphFrames CC shape without the dependency). Oracle: DuckDB
    // recursive-CTE transitive closure + min-reachable-id.
    QueryDef(
      "q_dedup_clusters",
      (s, d) => {
        val pairs = verifiedPairs(s, d).select("d1", "d2")
        val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
          .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
        graft.util.LabelProp.components(s, edges, shufflePartitions = Some(8))
          .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""$verifiedPairsCte,
              |e AS (SELECT d1 AS a, d2 AS b FROM vp
              |  UNION SELECT d2, d1 FROM vp
              |  UNION SELECT d1, d1 FROM vp UNION SELECT d2, d2 FROM vp),
              |r AS (SELECT a, b FROM e
              |  UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
              |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
              |FROM r GROUP BY a ORDER BY doc_id""".stripMargin)),

    // simhash (16-bit, token-level) as a PER-ROW codegen kernel — zero
    // fan-out, zero shuffle before the final sort (round ≤3 exploded
    // tokens×16 bits and paid two groupBy shuffles). The null-text
    // filter preserves the exploded formulation's semantics (null text
    // produced no token rows → doc absent from output); the fixture has
    // none, but parity must not depend on that.
    QueryDef(
      "q_simhash",
      (s, d) => {
        corpus(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"),
            TextFunctions.simhash16(lower(col("text"))).as("simhash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH c AS ($corpusSql),
              |tt AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM c),
              |th AS (SELECT doc_id, ${ph("tok")} AS th FROM tt),
              |bb AS (SELECT doc_id, th, unnest(range(0, 16)) AS b FROM th),
              |sg AS (SELECT doc_id, b,
              |  CAST(sum(CASE WHEN (th >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
              |  FROM bb GROUP BY doc_id, b)
              |SELECT doc_id,
              |  CAST(sum(CASE WHEN s > 0 THEN 1 << CAST(b AS INTEGER) ELSE 0 END) AS BIGINT) AS simhash
              |FROM sg GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // n-gram (char-3) jaccard on a deterministic subset of pairs
    QueryDef(
      "q_ngram_jaccard",
      (s, d) => {
        // char_gram_hashes: one codegen loop per row ≡ the interpreted
        // array_distinct(transform(sequence, i -> str_poly_hash(substring)))
        val sub = corpus(s, d).filter(pmod(col("doc_id"), lit(17)) === 0)
          .select(col("doc_id"),
            TextFunctions.char_gram_hashes(col("text"), 3).as("gs"))
        val a = sub.select(col("doc_id").as("d1"), col("gs").as("g1"))
        val b = sub.select(col("doc_id").as("d2"), col("gs").as("g2"))
        a.crossJoin(b).filter(col("d1") < col("d2"))
          .withColumn("n_int", size(array_intersect(col("g1"), col("g2"))))
          .withColumn("jacc1000",
            expr("n_int * 1000 DIV greatest(size(g1) + size(g2) - n_int, 1)"))
          .select("d1", "d2", "jacc1000")
          .orderBy("d1", "d2")
      },
      Some(s"""WITH c AS ($corpusSql),
              |gs AS (SELECT doc_id,
              |  CASE WHEN len(text) < 3 THEN [] ELSE
              |    list_distinct(list_transform(range(1, len(text) - 1),
              |      i -> ${ph("text[i:i+2]")})) END AS gs
              |  FROM c WHERE doc_id % 17 = 0)
              |SELECT a.doc_id AS d1, b.doc_id AS d2,
              |  len(list_intersect(a.gs, b.gs)) * 1000
              |    // greatest(len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)), 1) AS jacc1000
              |FROM gs a, gs b WHERE a.doc_id < b.doc_id
              |ORDER BY d1, d2""".stripMargin)),

    // n-gram Jaccard at SCALE: char-5-gram sets → k=8 minhash → banded
    // LSH self-join (r=4, b=2) → size-ratio prefilter → exact-jaccard
    // verify ≥ 0.8 — the bucketed shape of the word-shingle dedup, with
    // two extra production moves: (1) jacc ≥ t implies min(|g1|,|g2|)/
    // max ≥ t, so candidate pairs are pre-filtered on a 16-byte sizes
    // join BEFORE the full gram arrays ever ship through a shuffle
    // (measured: cuts 63% of candidates at sf0.1); (2) n=5 grams, not
    // 3 — the gram universe must outgrow the corpus for LSH to
    // discriminate (trigram minhash collapses into 26 mega-buckets of
    // up to 4651 docs here: 22.6M candidate pairs no banding fixes).
    // The GATE runs on a deterministic quarter of the corpus (planted
    // near/exact-dup partners are id+1M/+2M ≡ id mod 4, so every
    // planted pair survives): a proportional slice — unlike a fixed
    // cap — keeps the gate's verify join inside the bench budget while
    // exercising the exact production plan; the unsliced form is the
    // same code minus the one filter.
    QueryDef(
      "q_ngram_jaccard_lsh",
      (s, d) => {
        val sets = corpus(s, d)
          .filter(pmod(col("doc_id"), lit(4)) === 0)
          // char_gram_hashes: fused codegen loop for the distinct
          // 5-gram hash set (the interpreted transform+substring HOF
          // was this gate's hottest expression)
          .select(col("doc_id"),
            TextFunctions.char_gram_hashes(col("text"), 5).as("gs"))
          .filter(size(col("gs")) > 0)
          // the gram table feeds FOUR consumers (banding, sizes, both
          // verify sides): materialize once — at corpus scale this is
          // the write-once signatures table every LSH pipeline persists
          .localCheckpoint()
        val n = sets.count()
        def bounded(df: org.apache.spark.sql.DataFrame, est: Long) =
          graft.util.Joins.boundedBroadcast(df, est, dedupBroadcastMaxRows)
        val bands = sets
          .withColumn("sig", minhashSig(col("gs")))
          .select(col("doc_id"), posexplode(
            transform(sequence(lit(0), lit(1)), b => struct(
              element_at(col("sig"), b * 4 + 1).as("m1"),
              element_at(col("sig"), b * 4 + 2).as("m2"),
              element_at(col("sig"), b * 4 + 3).as("m3"),
              element_at(col("sig"), b * 4 + 4).as("m4")))))
          .select(col("doc_id"), col("pos").as("band"), col("col.*"))
        val pairs = bands.as("l").join(bounded(bands.as("r"), 2L * n),
            col("l.band") === col("r.band") && col("l.m1") === col("r.m1") &&
              col("l.m2") === col("r.m2") && col("l.m3") === col("r.m3") &&
              col("l.m4") === col("r.m4") && col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2")).distinct()
        val sizes = sets.select(col("doc_id"), size(col("gs")).as("sz"))
        val sized = pairs
          .join(bounded(sizes.select(col("doc_id").as("d1"), col("sz").as("s1")), n), "d1")
          .join(bounded(sizes.select(col("doc_id").as("d2"), col("sz").as("s2")), n), "d2")
          .filter(expr("least(s1, s2) * 1000 DIV greatest(s1, s2) >= 800"))
          .select("d1", "d2")
        sized
          .join(bounded(sets.select(col("doc_id").as("d1"), col("gs").as("g1")), n), "d1")
          .join(bounded(sets.select(col("doc_id").as("d2"), col("gs").as("g2")), n), "d2")
          .withColumn("n_int", size(array_intersect(col("g1"), col("g2"))))
          .withColumn("jacc1000",
            expr("n_int * 1000 DIV (size(g1) + size(g2) - n_int)"))
          .filter(col("jacc1000") >= 800)
          .select("d1", "d2", "jacc1000")
          .orderBy("d1", "d2")
      },
      Some(s"""WITH c AS ($corpusSql),
              |st AS (SELECT doc_id,
              |  CASE WHEN len(text) < 5 THEN [] ELSE
              |    list_distinct(list_transform(range(1, len(text) - 3),
              |      i -> ${ph("text[i:i+4]")})) END AS gs
              |  FROM c WHERE doc_id % 4 = 0),
              |nz AS (SELECT doc_id, gs, len(gs) AS sz FROM st WHERE len(gs) > 0),
              |sh AS (SELECT doc_id, unnest(gs) AS x FROM nz),
              |ex AS (SELECT doc_id, x, unnest(range(0, 8)) AS j FROM sh),
              |sig AS (SELECT doc_id, j,
              |  CAST(min(((1 + j * 2) * x % 1000000007 + j * 17 % 1000000007)
              |       % 1000000007) AS BIGINT) AS mh
              |  FROM ex GROUP BY doc_id, j),
              |bands AS (SELECT doc_id, j // 4 AS band,
              |  list(mh ORDER BY j) AS ms
              |  FROM sig GROUP BY doc_id, j // 4),
              |pairs AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
              |  FROM bands l JOIN bands r ON l.band = r.band AND l.ms = r.ms
              |    AND l.doc_id < r.doc_id),
              |sized AS (SELECT d1, d2 FROM pairs
              |  JOIN nz a ON a.doc_id = d1 JOIN nz b ON b.doc_id = d2
              |  WHERE least(a.sz, b.sz) * 1000 // greatest(a.sz, b.sz) >= 800)
              |SELECT d1, d2,
              |  len(list_intersect(a.gs, b.gs)) * 1000
              |    // (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jacc1000
              |FROM sized JOIN nz a ON a.doc_id = d1 JOIN nz b ON b.doc_id = d2
              |WHERE len(list_intersect(a.gs, b.gs)) * 1000
              |    // (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 800
              |ORDER BY d1, d2""".stripMargin)),

    // embedding kNN, integer-quantized L2 — brute-force exactness
    // BASELINE on the deterministic fixture slice (vec_id % 4 == 0);
    // the scale path is Similarity.annTopK (q_embed_ann_lsh)
    QueryDef(
      "q_embed_knn_l2q",
      (s, d) => {
        val emb = Tables.t(s, d, "embeddings")
          .filter(pmod(col("vec_id"), lit(4)) === 0)
          .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000, 0).cast("long")).as("q"))
        val a = emb.select(col("vec_id").as("a_id"), col("q").as("qa"))
        val b = emb.select(col("vec_id").as("b_id"), col("q").as("qb"))
        a.crossJoin(b).filter(col("a_id") =!= col("b_id"))
          .withColumn("d2", aggregate(zip_with(col("qa"), col("qb"),
            (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v))
          .groupBy("a_id")
          .agg(min(struct(col("d2"), col("b_id"))).as("m"))
          .select(col("a_id").as("vec_id"), col("m.b_id").as("nn_id"))
          .orderBy("vec_id")
      },
      Some("""WITH q AS (SELECT vec_id,
             |    list_transform(embedding, x -> round(x * 1000)) AS q,
             |    CAST(list_sum(list_transform(embedding,
             |      x -> round(x * 1000) * round(x * 1000))) AS BIGINT) AS qq
             |  FROM embeddings WHERE vec_id % 4 = 0)
             |SELECT vec_id, nn_id FROM (
             |  SELECT a.vec_id, b.vec_id AS nn_id,
             |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |      a.qq + b.qq - 2 * CAST(list_inner_product(a.q, b.q) AS BIGINT),
             |      b.vec_id) AS rk
             |  FROM q a, q b WHERE a.vec_id <> b.vec_id)
             |WHERE rk = 1 ORDER BY vec_id""".stripMargin))
  )
}
