package graft.queries

import graft.core.Tables
import graft.functions.RollingHash.rolling_hash
import graft.ops.{Multimodal, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + multimodal-plumbing operators over `documents` as
  * oracle-checked queries. Everything is codegen'd expressions fused
  * into the scan; scores/ratios are integer-derived doubles (exact
  * across engines), so only formatting rounding appears.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sortedOnce on the scan-fused heavy scorers: their final global
    // sort otherwise re-runs the whole tokenize/score scan for the
    // RangePartitioner sample pass (see Pins.sortedOnce)
    "q_text_tokens" -> ((s, dir) =>
      graft.core.Pins.sortedOnce(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens"),
            TA.bpeTokenCount(col("text")).as("n_bpe")),
        col("doc_id"))),

    "q_text_quality" -> ((s, dir) =>
      graft.core.Pins.sortedOnce(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            length(col("text")).as("n_chars"),
            TA.tokenCount(col("text")).as("n_tokens"),
            TA.round6HalfUp(TA.avgTokenLen(col("text"))).as("avg_tok_len"),
            TA.round6HalfUp(TA.punctRatio(col("text"))).as("punct_ratio"),
            TA.round6HalfUp(TA.stopwordRatio(col("text"))).as("stop_ratio"),
            TA.round6HalfUp(TA.qualityScore(col("text"))).as("quality")),
        col("doc_id"))),

    "q_text_langid" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id") +:
          TA.markers.map { case (l, _) =>
            TA.langScore(col("text"), l).as(s"s_$l") } :+
          TA.predictedLang(col("text")).as("predicted") :+
          col("lang"): _*)
        .withColumn("correct",
          when(col("predicted") === col("lang"), 1).otherwise(0))
        .orderBy("doc_id")),

    "q_text_fingerprint" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TA.fingerprintMd5(col("text")).as("fp"),
          rolling_hash(col("text")).as("rh"))
        .orderBy("doc_id")),

    "q_multimodal" -> ((s, dir) =>
      Multimodal.features(Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("id"), col("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.format").as("format"),
          col("head_hash"), col("frames_hash"))
        .orderBy("id")),

    // REAL codec round-trip: derive (w, h, gray) arithmetically from
    // doc_id, encode a genuine PNG, decode it back via javax.imageio
    // in ONE fused pass (header meta + full pixel stats) — the DuckDB
    // oracle predicts the decoded values from the same arithmetic, so
    // the actual encoder+decoder sit inside the checked dataflow
    "q_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      // repartition BEFORE the codec work: a small-file scan plans ONE
      // input split, which would serialize the CPU-bound per-row
      // encode+decode on a single core (sf1 measured 1 of 32 cores
      // busy); the id shuffle is a few bytes per row and buys full
      // parallelism — the exact shape a 100-TB decode stage needs
      val cards = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.encodeGrayPng((id % 13).toInt + 1,
            (id % 7).toInt + 1, (id % 256).toInt))
        })
        .toDF("doc_id", "payload")
      // sortedOnce: the final sort's sample pass would otherwise run
      // the CPU-bound encode+decode a second time (see Pins.sortedOnce)
      graft.core.Pins.sortedOnce(
        Multimodal.decodeFeatures(cards, "doc_id", "payload")
          .select(col("id"), col("width"), col("height"), col("format"),
            col("n_pixels"), round(col("mean_luma"), 6).as("luma_r6")),
        col("id"))
    }),

    // the audio twin of q_multimodal_decode: derive (rate, frames,
    // amplitude) from doc_id, encode REAL 16-bit PCM WAV, decode via
    // javax.sound.sampled — constant-amplitude samples make the RMS
    // exactly |amp|, so the oracle is pure arithmetic
    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      val cards = Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        // same single-split fix as q_multimodal_decode above
        .repartition(s.sessionState.conf.numShufflePartitions)
        .as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.encodeConstWav(8000 + (id % 3).toInt * 4000,
            800 + (id % 100).toInt, ((id % 1000) * 30).toShort))
        })
        .toDF("doc_id", "payload")
      graft.core.Pins.sortedOnce(
        Multimodal.decodeAudioFeatures(cards, "doc_id", "payload"),
        col("id"))
    }),

    // seed-stable hash sampling: a row-local scan-stage predicate,
    // identical under any partitioning
    "q_sample_hash" -> ((s, dir) =>
      graft.ops.Sampling.hashSample(Tables.load(s, dir, "documents"),
          "doc_id", fraction = 0.25, seed = 7L)
        .select(col("doc_id"),
          graft.ops.Sampling.hash60(col("doc_id"), 7L).as("h"))
        .orderBy("doc_id")),

    // corpus rebalancing: per-language keep rates (drop unlisted)
    "q_sample_stratified" -> ((s, dir) =>
      graft.ops.Sampling.stratifiedHashSample(
          Tables.load(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.2, "de" -> 0.8, "fr" -> 1.0), seed = 7L)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // deterministic 80/10/10 split assignment by hash range
    "q_split_hash" -> ((s, dir) =>
      graft.ops.Sampling.hashSplit(Tables.load(s, dir, "documents"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          seed = 7L)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // deterministic 5-fold cross-validation assignment (hash mod k,
    // scan-local — Sampling.kfold scale note)
    "q_kfold" -> ((s, dir) =>
      graft.ops.Sampling.kfold(Tables.load(s, dir, "documents"),
          "doc_id", k = 5, seed = 7L)
        .select(col("doc_id"), col("fold"))
        .orderBy("doc_id")),

    // composite corpus-cleaning pipeline: quality gate + language gate
    // + exact-dedup keep-first in one shuffle
    "q_corpus_clean" -> ((s, dir) =>
      graft.core.Pins.sortedOnce(
        graft.ops.CorpusPipeline.clean(Tables.load(s, dir, "documents"),
            "doc_id", "text", minQuality = 0.55, langs = Seq("de", "en"))
          .select(col("fp"), col("id"),
            TA.round6HalfUp(col("quality")).as("quality"),
            col("lang_pred"), col("n_tokens"), col("n_dups")),
        col("id"))),

    // the END-TO-END training-set build: clean (quality+lang gate,
    // exact dedup) -> MinHash-LSH near-dup gate over survivors ->
    // trained-filter probability gate; each stage shrinks the corpus
    // before the next pays for it
    "q_corpus_training_set" -> ((s, dir) =>
      graft.ops.CorpusPipeline.trainingSet(Tables.load(s, dir, "documents"),
          "doc_id", "text", minQuality = 0.55, langs = Seq("de", "en"),
          lrWeights = graft.ops.QualityFilter.gridWeights(64),
          lrBias = -0.5, minProb = 0.5)
        .orderBy("id")),

    // sliding-window chunking (40-token chunks every 30) — scan-fused
    // per-row explode, no shuffle
    "q_chunk_docs" -> ((s, dir) =>
      TA.chunkTokens(Tables.load(s, dir, "documents"), "doc_id", "text",
          size = 40, stride = 30)
        .orderBy("id", "chunk_idx")),

    // tf-idf top terms per language: two content-keyed aggregations +
    // a broadcast of the |tokens|-row df table's join side... rather,
    // df joins tf on the token key (equi-join, map-side combined
    // counts); N is a 1-row broadcast. Ranking uses the ROUNDED score
    // (ln differs by ulps across engines; round-then-rank keeps the
    // top-k cutoff engine-independent) with the token as tiebreak.
    "q_text_tfidf" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val tok = docs.select(col("lang"), col("doc_id"),
        explode(TA.tokens(col("text"))).as("tok"))
      val dfT = tok.select(col("doc_id"), col("tok")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val tf = tok.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfT, Seq("tok"))
        .withColumn("n_docs", n.scalar())
        .select(col("lang"), col("tok"), col("tf"), col("df"),
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("tfidf").desc, col("tok"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .orderBy("lang", "rnk")
    }),

    // Gopher-style repetition signals: distinct counts scan-fused,
    // bigram mode via one (id, gram-hash)-keyed groupBy
    "q_text_rep" -> ((s, dir) =>
      TA.repetitionSignals(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("id")),

    // BM25 ranked retrieval for a fixed term set (one rare + two
    // common terms); round-then-rank, top-k via TakeOrderedAndProject
    "q_text_bm25" -> ((s, dir) =>
      graft.ops.Search.bm25TopK(Tables.load(s, dir, "documents"),
          "doc_id", "text", terms = Seq("dup", "spark", "join"),
          k1 = 1.2, b = 0.75, k = 20)),

    // hybrid retrieval: BM25 lexical leg + cosine vector leg
    // (query = embedding 0) fused by reciprocal-rank fusion;
    // round-then-rank in BOTH legs keeps the integer ranks — and so
    // the fused scores — engine-exact
    "q_hybrid_topk" -> ((s, dir) =>
      graft.ops.Search.hybridTopK(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        terms = Seq("dup", "spark", "join"),
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        queryVecId = 0L, legK = 20, kRrf = 60, k = 10)),

    // per-language term counts through the Misra-Gries sketch
    // aggregate: each task folds its rows into a <=k-entry sketch and
    // the shuffle moves one sketch per (partition, lang), not a
    // (lang, term) row per distinct term. k=64 >= the corpus
    // vocabulary, so the sketch never evicts and counts are EXACT
    // (the approximation regime is spec-tested instead).
    "q_text_hh" -> ((s, dir) => {
      val tok = Tables.load(s, dir, "documents").select(col("lang"),
        explode(TA.tokens(col("text"))).as("tok"))
      tok.groupBy(col("lang"))
        .agg(graft.functions.MisraGries.heavy_hitters(col("tok"), 64).as("hh"))
        .select(col("lang"), explode(col("hh")).as("e"))
        .select(col("lang"), col("e.term").as("term"), col("e.cnt").as("cnt"))
        .orderBy("lang", "term")
    }),

    // CCNet-style LM quality filter: corpus-fitted add-1 bigram model,
    // per-doc average log-prob; the "model" is the corpus gram counts,
    // hash-joined with each doc's bigrams in one RDD kernel
    "q_text_lm" -> ((s, dir) =>
      graft.core.Pins.sortedOnce(
        graft.ops.LangModel.bigramScore(Tables.load(s, dir, "documents"),
          "doc_id", "text"),
        col("id"))),

    // benchmark decontamination: training docs sharing >= 1 hashed
    // 4-gram with the pseudo-eval slice (doc_id % 100 == 0). Real
    // pipelines use ~13-grams; the 31-word synthetic vocabulary makes
    // 4 the calibrated equivalent (longer grams never collide here).
    "q_text_contam" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.ops.Decontam.overlap(docs,
          docs.filter(col("doc_id") % 100 === 0), "doc_id", "text", n = 4)
        .orderBy("id")
    }),

    // materialized inverted index: one term-keyed shuffle, per-doc
    // distinct done in the scan (array_distinct before the explode),
    // posting lists as sorted join-strings (engine-neutral hashing)
    "q_inverted_index" -> ((s, dir) =>
      graft.ops.Search.invertedIndex(Tables.load(s, dir, "documents"),
          "doc_id", "text", minDf = 2L)
        .orderBy("term")),

    // winnowing fingerprints (SIGMOD'03 / MOSS): per-doc ordered
    // window pass, rightmost-min per window via one encoded-key min —
    // no self-join, parallel across documents
    "q_winnow" -> ((s, dir) =>
      graft.ops.Winnow.fingerprints(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 4, w = 5)
        .orderBy("id", "pos")),

    // PII-style pattern scrubbing over the events payload: pure
    // codegen'd regexp expressions fused into the scan (RE2-compatible
    // patterns — the oracle runs the IDENTICAL regex)
    "q_redact" -> ((s, dir) =>
      graft.ops.Redact.scrub(
          Tables.load(s, dir, "events").select(col("event_id"), col("props")),
          "props")
        .select(col("event_id"), col("n_emails"), col("n_digit_runs"),
          col("props_scrubbed"))
        .orderBy("event_id")),

    // token-budget mixture sampling: per-language budgets fill in
    // deterministic hash order (es is unlisted -> dropped); cumsum is
    // a stratum-partitioned window — parallel across strata
    "q_mixture_budget" -> ((s, dir) =>
      graft.ops.Sampling.tokenBudgetSample(
          Tables.load(s, dir, "documents"), "doc_id", "lang",
          TA.tokenCount(col("text")).cast("long"),
          Map("en" -> 2000L, "de" -> 1500L, "fr" -> 1000L, "zh" -> 800L),
          seed = 7L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("doc_id")),

    // hashing-trick featurization: fixed-width bag-of-words, no
    // vocabulary fit; one (id, bucket)-keyed shuffle
    "q_text_hashing_trick" -> ((s, dir) =>
      TA.hashedFeatures(Tables.load(s, dir, "documents"), "doc_id",
          "text", numFeatures = 64)
        .orderBy("id", "bucket")),

    // CCNet/GPT-3-style linear quality filter scoring at fixed grid
    // weights (training is MLlib LR, spec-checked; the scoring
    // dataflow here is the production path: scan-fused weight lookup,
    // one keyed DECIMAL-exact aggregate)
    "q_text_quality_lr" -> ((s, dir) =>
      graft.ops.QualityFilter.score(Tables.load(s, dir, "documents"),
          "doc_id", "text", graft.ops.QualityFilter.gridWeights(64),
          bias = -0.5)
        .select(col("id"), round(col("logit"), 6).as("logit"),
          round(col("prob"), 6).as("prob"))
        .orderBy("id")),

    // unicode canonicalization (custom codegen Expression — Spark has
    // no builtin): NFC over a deterministically-decomposed suffix
    // (combining acute) appended to the ASCII corpus text, so the
    // normalizer provably fires (len_nfc = len_raw − 1)
    "q_text_nfc" -> ((s, dir) => {
      val raw = concat(substring(col("text"), 1, 8), lit("e\u0301"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.UnicodeNormalize.nfc(raw).as("norm"),
          length(raw).as("len_raw"),
          length(graft.functions.UnicodeNormalize.nfc(raw)).as("len_nfc"))
        .orderBy("doc_id")
    }),

    // sequence packing: 8 parallel hash-bucketed packing streams; a
    // new 512-token bin opens at each budget boundary (T5-style
    // concat-then-split packing); deterministic under repartitioning
    "q_pack_sequences" -> ((s, dir) =>
      graft.ops.Sampling.packSequences(
          Tables.load(s, dir, "documents"), "doc_id",
          TA.tokenCount(col("text")), maxTokens = 512L, numBuckets = 8,
          seed = 7L)
        .select(col("doc_id"), col("bucket"), col("n_tokens"),
          col("bin"), col("bin_offset"))
        .orderBy("doc_id")),

    // exact per-language corpus length quantiles: Spark percentile ==
    // DuckDB quantile_cont (both p·(n−1) linear interpolation; the
    // interpolation arithmetic on integer inputs is plain +,*,/ on
    // identical doubles → bit-equal)
    "q_corpus_quantiles" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90"),
          expr("percentile(n_chars, 0.99)").as("p99"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang")),

    // distribution drift: per-token KL(en ‖ de) contributions over
    // add-1-smoothed unigram distributions — one token-keyed shuffle
    // with conditional slice sums (ops.Drift scale note)
    "q_drift_kl" -> ((s, dir) =>
      graft.ops.Drift.klByToken(Tables.load(s, dir, "documents"),
          "lang", "en", "de", "text")
        .orderBy("tok")))

  private def scoreSql(lang: String): String = {
    val m = TA.markers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains([$m], t))) AS INT)"
  }

  private val predictedSql: String = {
    val langs = TA.markers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val cond = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }

  // shared BM25 derivation (k1 = 1.2, b = 0.75 folded into the 2.2 /
  // 1.2 / 0.25 / 0.75 literals) over the fixed query terms — the
  // standalone ranking and the hybrid fusion leg score with the SAME
  // CTE chain, factored so the parameters cannot drift between them.
  // Pre-stripped; hosts append their own ranking CTEs.
  private val bm25Sql: String =
    """WITH lens AS (SELECT doc_id AS id,
      |                CAST(len(string_split(text, ' ')) AS INT) AS dl
      |              FROM documents),
      |st AS (SELECT count(*) AS n_docs,
      |              sum(len(string_split(text, ' '))) AS sum_dl
      |       FROM documents),
      |tf AS (SELECT id, tok, count(*) AS tf
      |       FROM (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents)
      |       WHERE tok IN ('dup', 'spark', 'join') GROUP BY id, tok),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |sc AS (SELECT tf.id,
      |  ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |     / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
      |  * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
      |     / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)
      |           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS s
      |  FROM tf JOIN df ON tf.tok = df.tok
      |  JOIN lens ON tf.id = lens.id CROSS JOIN st),
      |agg AS (SELECT id, round(sum(s), 6) AS score FROM sc GROUP BY id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '${TA.BpePattern}')) AS INT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same bucket hash as q_text_hashing_trick; weights/bias are the
    // engine's literal grid; DECIMAL sum keeps the logit order- and
    // engine-exact (weights are one-decimal rationals)
    "q_text_quality_lr" ->
      """WITH t AS (SELECT doc_id,
        |                  unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |b AS (SELECT doc_id,
        |             CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS INT)
        |               AS bucket
        |      FROM t),
        |s AS (SELECT doc_id,
        |             CAST(sum(CAST(CAST((bucket * 37 + 11) % 19 - 9 AS DOUBLE)
        |                           / 10.0 AS DECIMAL(38,15))) AS DOUBLE) AS z
        |      FROM b GROUP BY 1)
        |SELECT d.doc_id AS id,
        |       round(CAST(-0.5 AS DOUBLE) + coalesce(s.z, 0.0), 6) AS logit,
        |       round(1.0 / (1.0 + exp(-(CAST(-0.5 AS DOUBLE)
        |             + coalesce(s.z, 0.0)))), 6) AS prob
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INT) AS n_chars,
        |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         t -> list_contains(['the', 'a', 'of', 'and', 'is'], t))) AS INT) AS n_stop,
        |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, n_tokens,
        |    CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_tok_len,
        |    CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
        |    CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio
        |  FROM t)
        |SELECT doc_id, n_chars, n_tokens,
        |  floor(avg_tok_len * 1e6 + 0.5) / 1e6 AS avg_tok_len,
        |  floor(punct_ratio * 1e6 + 0.5) / 1e6 AS punct_ratio,
        |  floor(stop_ratio * 1e6 + 0.5) / 1e6 AS stop_ratio,
        |  floor((stop_ratio * CAST(2 AS DOUBLE)
        |        + LEAST(avg_tok_len / CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
        |        - punct_ratio) * 1e6 + 0.5) / 1e6 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_text_langid" -> {
      val scores = TA.markers.map { case (l, _) =>
        s"${scoreSql(l)} AS s_$l" }.mkString(",\n  ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents),
         |p AS (SELECT *, $predictedSql AS predicted FROM sc)
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh, predicted, lang,
         |       CASE WHEN predicted = lang THEN 1 ELSE 0 END AS correct
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |  list_reduce([CAST(ord(c) AS BIGINT) FOR c IN string_split(text, '')],
        |              (a, b) -> (a * 31 + b) % 1000000007) AS rh
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_hash" -> {
      // identical threshold arithmetic to Sampling.hashSample
      val thr = (0.25 * (1L << 60).toDouble).toLong
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents)
         |SELECT doc_id, h FROM h WHERE h < $thr ORDER BY doc_id""".stripMargin
    },

    "q_sample_stratified" -> {
      // identical per-stratum threshold arithmetic to stratifiedHashSample
      def thr(f: Double): Long = (f * (1L << 60).toDouble).toLong
      s"""WITH h AS (SELECT doc_id, lang,
         |  ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents)
         |SELECT doc_id, lang FROM h
         |WHERE h < CASE lang WHEN 'en' THEN ${thr(0.2)}
         |                    WHEN 'de' THEN ${thr(0.8)}
         |                    WHEN 'fr' THEN ${thr(1.0)}
         |                    ELSE -1 END
         |ORDER BY doc_id""".stripMargin
    },

    // identical md5-60-bit hash; % on a non-negative hash == pmod
    "q_kfold" ->
      """SELECT doc_id,
        |  CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |       % 5 AS INT) AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_split_hash" -> {
      // identical normalization/threshold arithmetic to Sampling.hashSplit
      val weights = Seq(0.8, 0.1, 0.1)
      val total = weights.sum
      val cums = weights.scanLeft(0.0)(_ + _).tail
        .map(c => (c / total * (1L << 60).toDouble).toLong)
      s"""WITH h AS (SELECT doc_id,
         |  ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         |  FROM documents)
         |SELECT doc_id,
         |       CASE WHEN h < ${cums(0)} THEN 'train'
         |            WHEN h < ${cums(1)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "q_corpus_clean" -> {
      val scores = TA.markers.map { case (l, _) =>
        s"${scoreSql(l)} AS s_$l" }.mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    CAST(length(text) AS INT) AS n_chars,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         |    $scores
         |  FROM documents),
         |sig AS (
         |  SELECT id, fp, n_tokens,
         |    CAST(s_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) * CAST(2 AS DOUBLE)
         |      + LEAST((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |              / CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |      - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS quality,
         |    $predictedSql AS lang_pred
         |  FROM t),
         |g AS (SELECT * FROM sig
         |      WHERE quality >= CAST(0.55 AS DOUBLE) AND lang_pred IN ('de', 'en'))
         |SELECT fp, min(id) AS id,
         |       floor(min_by(quality, id) * 1e6 + 0.5) / 1e6 AS quality,
         |       min_by(lang_pred, id) AS lang_pred,
         |       min_by(n_tokens, id) AS n_tokens,
         |       count(*) AS n_dups
         |FROM g GROUP BY fp ORDER BY id""".stripMargin
    },

    // composed from the proven piece oracles: q_corpus_clean's CTEs,
    // q_dedup_gate's shingle/signature/band verdict (scoped to the
    // clean survivors), q_text_quality_lr's bucket-weight sum
    "q_corpus_training_set" -> {
      val scores = TA.markers.map { case (l, _) =>
        s"${scoreSql(l)} AS s_$l" }.mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id AS id,
         |    CAST(length(text) AS INT) AS n_chars,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INT) AS n_punct,
         |    md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         |    $scores
         |  FROM documents),
         |qsig AS (
         |  SELECT id, fp, n_tokens,
         |    CAST(s_en AS DOUBLE) / CAST(n_tokens AS DOUBLE) * CAST(2 AS DOUBLE)
         |      + LEAST((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         |              / CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))
         |      - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS quality,
         |    $predictedSql AS lang_pred
         |  FROM t),
         |g AS (SELECT * FROM qsig
         |      WHERE quality >= CAST(0.55 AS DOUBLE) AND lang_pred IN ('de', 'en')),
         |cleaned AS (SELECT min(id) AS id, min_by(lang_pred, id) AS lang_pred,
         |                   min_by(n_tokens, id) AS n_tokens, count(*) AS n_dups
         |            FROM g GROUP BY fp),
         |sd AS (SELECT c.id, c.lang_pred, c.n_tokens, c.n_dups, d.text
         |       FROM cleaned c JOIN documents d ON d.doc_id = c.id),
         |sh AS (
         |  SELECT id, unnest(list_distinct(
         |    list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
         |      i -> ('0x' || substr(md5(
         |             string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         |             || ' ' || string_split(text, ' ')[i+2]), 1, 15))::BIGINT))) AS sh
         |  FROM sd WHERE len(string_split(text, ' ')) >= 3),
         |msig AS (
         |  SELECT id, i, min(h) AS mh FROM (
         |    SELECT id,
         |           unnest(generate_series(0, 15)) AS i,
         |           unnest(list_transform(generate_series(0, 15),
         |             i -> ((i * 2 + 3) * xp + (i * 5 + 7)) % 1000000007)) AS h
         |    FROM (SELECT id, sh % 1000000007 AS xp FROM sh))
         |  GROUP BY id, i),
         |bands AS (SELECT id, i // 4 AS band,
         |                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS key
         |          FROM msig GROUP BY id, i // 4),
         |w AS (SELECT band, key, min(id) AS winner
         |      FROM bands GROUP BY band, key),
         |v AS (SELECT b.id, count(*) AS n_bands,
         |             sum(CASE WHEN w.winner = b.id THEN 1 ELSE 0 END) AS n_won
         |      FROM bands b JOIN w ON b.band = w.band AND b.key = w.key
         |      GROUP BY b.id),
         |ag AS (SELECT * FROM sd
         |       WHERE id NOT IN (SELECT id FROM v WHERE n_won <> n_bands)),
         |lb AS (SELECT id,
         |              CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS INT) AS bucket
         |       FROM (SELECT id, unnest(string_split(text, ' ')) AS tok FROM ag)),
         |ls AS (SELECT id,
         |              CAST(sum(CAST(CAST((bucket * 37 + 11) % 19 - 9 AS DOUBLE)
         |                            / 10.0 AS DECIMAL(38,15))) AS DOUBLE) AS z
         |       FROM lb GROUP BY 1),
         |pr AS (SELECT a.id, a.lang_pred, a.n_tokens, a.n_dups,
         |              round(1.0 / (1.0 + exp(-(CAST(-0.5 AS DOUBLE)
         |                    + coalesce(ls.z, 0.0)))), 6) AS prob
         |       FROM ag a LEFT JOIN ls ON ls.id = a.id)
         |SELECT id, lang_pred, n_tokens, n_dups, prob
         |FROM pr WHERE prob >= CAST(0.5 AS DOUBLE) ORDER BY id""".stripMargin
    },

    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (SELECT id, toks, unnest(generate_series(0,
        |        CASE WHEN len(toks) <= 40 THEN 0
        |             ELSE (len(toks) - 40 + 29) // 30 END)) AS chunk_idx
        |      FROM t)
        |SELECT id, CAST(chunk_idx AS INT) AS chunk_idx,
        |       array_to_string(list_slice(toks, chunk_idx * 30 + 1,
        |                                  chunk_idx * 30 + 40), ' ') AS chunk_text,
        |       CAST(len(list_slice(toks, chunk_idx * 30 + 1,
        |                           chunk_idx * 30 + 40)) AS INT) AS n_tokens
        |FROM c ORDER BY id, chunk_idx""".stripMargin,

    "q_text_tfidf" ->
      """WITH tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |df AS (SELECT tok, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, tok FROM tok) GROUP BY tok),
        |tf AS (SELECT lang, tok, count(*) AS tf FROM tok GROUP BY lang, tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT lang, tf.tok AS tok, tf, df,
        |              round(CAST(tf AS DOUBLE)
        |                    * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
        |                AS tfidf
        |       FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
        |rk AS (SELECT lang, tok, tf, df, tfidf,
        |              CAST(row_number() OVER (PARTITION BY lang
        |                ORDER BY tfidf DESC, tok) AS INT) AS rnk
        |       FROM sc)
        |SELECT tok, lang, tf, df, tfidf, rnk
        |FROM rk WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin,

    "q_text_lm" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |bg AS (SELECT doc_id AS id,
        |         unnest(list_transform(
        |           generate_series(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' '
        |                || string_split(text, ' ')[i+1])) AS bg
        |       FROM documents),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
        |v AS (SELECT count(DISTINCT tok) AS v FROM tok)
        |SELECT id, count(*) AS n_bg,
        |  round(sum(ln((CAST(c2 AS DOUBLE) + 1.0)
        |               / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))))
        |        / CAST(count(*) AS DOUBLE), 6) AS lm_score
        |FROM bg JOIN c2 USING (bg)
        |JOIN c1 ON string_split(bg.bg, ' ')[1] = c1.tok
        |CROSS JOIN v
        |GROUP BY id ORDER BY id""".stripMargin,

    "q_text_contam" -> {
      val cat = (0 until 4).map(o => s"t[i+$o]").mkString(" || ' ' || ")
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t
         |            FROM documents),
         |tsh AS (SELECT doc_id AS id, unnest(list_distinct(list_transform(
         |          generate_series(1, len(t) - 3),
         |          i -> ('0x' || substr(md5($cat), 1, 15))::BIGINT))) AS sh
         |        FROM sp WHERE len(t) >= 4),
         |esh AS (SELECT DISTINCT sh FROM tsh WHERE id % 100 = 0)
         |SELECT id, count(*) AS n_shared
         |FROM tsh JOIN esh USING (sh) WHERE id % 100 <> 0
         |GROUP BY id ORDER BY id""".stripMargin
    },

    // k >= vocabulary -> the MG sketch is exact = plain group-by counts
    "q_text_hh" ->
      """SELECT lang, tok AS term, count(*) AS cnt
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY lang, tok ORDER BY lang, term""".stripMargin,

    "q_text_rep" ->
      """WITH t AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
        |           FROM documents),
        |b AS (SELECT id,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INT) AS uniq_tokens,
        |  list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1]) AS bg,
        |  CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS INT) AS uniq_tg
        |  FROM t),
        |s AS (SELECT id, n_tokens, uniq_tokens,
        |  CAST(CASE WHEN n_tokens >= 2 THEN n_tokens - 1 ELSE 0 END AS INT) AS n_bg,
        |  CAST(CASE WHEN n_tokens >= 3 THEN n_tokens - 2 ELSE 0 END AS INT) AS n_tg,
        |  uniq_tg, bg FROM b),
        |topbg AS (SELECT id, max(c) AS top_bigram_cnt
        |          FROM (SELECT id, g, count(*) AS c
        |                FROM (SELECT id, unnest(bg) AS g FROM s)
        |                GROUP BY id, g)
        |          GROUP BY id)
        |SELECT s.id AS id, n_tokens, uniq_tokens,
        |  CASE WHEN n_tokens > 0
        |       THEN floor(CAST(n_tokens - uniq_tokens AS DOUBLE)
        |            / CAST(n_tokens AS DOUBLE) * 1e6 + 0.5) / 1e6
        |       ELSE CAST(0 AS DOUBLE) END AS dup_tok_frac,
        |  coalesce(top_bigram_cnt, 0) AS top_bigram_cnt,
        |  CASE WHEN n_bg > 0
        |       THEN floor(CAST(coalesce(top_bigram_cnt, 0) AS DOUBLE)
        |            / CAST(n_bg AS DOUBLE) * 1e6 + 0.5) / 1e6
        |       ELSE CAST(0 AS DOUBLE) END AS top_bigram_frac,
        |  CASE WHEN n_tg > 0
        |       THEN floor(CAST(n_tg - uniq_tg AS DOUBLE)
        |            / CAST(n_tg AS DOUBLE) * 1e6 + 0.5) / 1e6
        |       ELSE CAST(0 AS DOUBLE) END AS dup_trigram_frac
        |FROM s LEFT JOIN topbg ON s.id = topbg.id ORDER BY id""".stripMargin,

    "q_text_bm25" ->
      (bm25Sql + """,
        |top AS (SELECT id, score FROM agg ORDER BY score DESC, id LIMIT 20)
        |SELECT id, score,
        |       CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS rnk
        |FROM top ORDER BY rnk""".stripMargin),

    "q_hybrid_topk" ->
      (bm25Sql + """,
        |ltop AS (SELECT id, score FROM agg ORDER BY score DESC, id LIMIT 20),
        |lex AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r
        |        FROM ltop),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |qv AS (SELECT x AS q FROM v WHERE vec_id = 0),
        |vc AS (SELECT c.vec_id AS id,
        |  round(list_reduce(list_transform(list_zip(q, c.x), z -> z[1] * z[2]), (p, s2) -> p + s2)
        |        / (sqrt(list_reduce(list_transform(list_zip(c.x, c.x), z -> z[1] * z[2]), (p, s2) -> p + s2))
        |           * sqrt(list_reduce(list_transform(list_zip(q, q), z -> z[1] * z[2]), (p, s2) -> p + s2))), 6) AS vcos
        |  FROM v c CROSS JOIN qv WHERE c.vec_id != 0),
        |vtop AS (SELECT id, vcos FROM vc ORDER BY vcos DESC, id LIMIT 20),
        |vr AS (SELECT id, row_number() OVER (ORDER BY vcos DESC, id) AS r
        |       FROM vtop),
        |u AS (SELECT id, r FROM lex UNION ALL SELECT id, r FROM vr),
        |f AS (SELECT id,
        |        round(sum(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(r AS DOUBLE))), 6) AS rrf
        |      FROM u GROUP BY id),
        |ftop AS (SELECT id, rrf FROM f ORDER BY rrf DESC, id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, id) AS INT) AS rank,
        |       id, rrf
        |FROM ftop ORDER BY rank""".stripMargin),

    "q_inverted_index" ->
      """WITH t AS (SELECT doc_id AS id,
        |             unnest(list_distinct(string_split(text, ' '))) AS term
        |           FROM documents)
        |SELECT term, count(*) AS df,
        |       array_to_string(list_sort(list(id)), ',') AS postings
        |FROM t GROUP BY term HAVING count(*) >= 2
        |ORDER BY term""".stripMargin,

    // identical 28-bit gram hash + encoded rightmost-min arithmetic
    // (h * 2^32 + (2^32-1-pos), integer ops only) as Winnow.scala
    "q_winnow" -> {
      val cat = (0 until 4).map(o => s"t[pos+$o]").mkString(" || ' ' || ")
      s"""WITH sp AS (SELECT doc_id AS id, string_split(text, ' ') AS t
         |            FROM documents),
         |g AS (SELECT id, t, unnest(generate_series(1, len(t) - 3)) AS pos
         |      FROM sp WHERE len(t) >= 4),
         |hs AS (SELECT id, CAST(pos AS BIGINT) AS pos,
         |        ('0x' || substr(md5($cat), 1, 7))::BIGINT AS h
         |      FROM g),
         |w AS (SELECT id, pos,
         |        min(h * 4294967296 + (4294967295 - pos)) OVER fr AS wmin,
         |        count(*) OVER fr AS wlen
         |      FROM hs
         |      WINDOW fr AS (PARTITION BY id ORDER BY pos
         |                    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
         |SELECT DISTINCT id, wmin // 4294967296 AS h,
         |       4294967295 - (wmin % 4294967296) AS pos
         |FROM w WHERE wlen = 5 OR pos = 1
         |ORDER BY id, pos""".stripMargin
    },

    "q_redact" -> {
      // single-quoted DuckDB strings pass backslashes through verbatim,
      // so the Scala-level pattern is the SQL-level pattern
      val email = graft.ops.Redact.Email
      s"""SELECT event_id,
         |  CAST(len(regexp_extract_all(props, '$email')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS INT) AS n_digit_runs,
         |  regexp_replace(regexp_replace(props, '$email', '<redacted>', 'g'),
         |                 '[0-9]{2,}', '<redacted>', 'g') AS props_scrubbed
         |FROM events ORDER BY event_id""".stripMargin
    },

    // identical seed-7 hash + budget CASE as Sampling.tokenBudgetSample
    "q_mixture_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 1500
        |                              WHEN 'fr' THEN 1000 WHEN 'zh' THEN 800
        |                              ELSE -1 END
        |ORDER BY doc_id""".stripMargin,

    "q_text_hashing_trick" ->
      """SELECT doc_id AS id,
        |       CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS INT)
        |         AS bucket,
        |       count(*) AS cnt
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY id, bucket""".stripMargin,

    // raw = first 8 chars + DECOMPOSED e-acute (chr(769) = U+0301);
    // engine NFC must equal DuckDB nfc_normalize, merging the pair
    "q_text_nfc" ->
      """WITH r AS (SELECT doc_id,
        |                  substr(text, 1, 8) || 'e' || chr(769) AS raw
        |           FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm,
        |       CAST(length(raw) AS INT) AS len_raw,
        |       CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc
        |FROM r ORDER BY doc_id""".stripMargin,

    // identical seed-7 hash, bucket mod, and prev-cumsum bin split as
    // Sampling.packSequences
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens, h, CAST(h % 8 AS INT) AS bucket FROM t),
        |c AS (SELECT doc_id, bucket, n_tokens,
        |    coalesce(CAST(sum(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |      AS prev
        |  FROM b)
        |SELECT doc_id, bucket, n_tokens, prev // 512 AS bin,
        |       prev % 512 AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_corpus_quantiles" ->
      """SELECT lang, count(*) AS n_docs,
        |       quantile_cont(n_chars, 0.5) AS p50,
        |       quantile_cont(n_chars, 0.9) AS p90,
        |       quantile_cont(n_chars, 0.99) AS p99,
        |       min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // constant-amplitude PCM: n·amp² and amp² are exact doubles, so
    // RMS == amp with NO rounding needed
    "q_multimodal_audio" ->
      """SELECT doc_id AS id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(800 + doc_id % 100 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 1000) * 30 AS DOUBLE) AS rms
        |FROM documents ORDER BY id""".stripMargin,

    // uniform-gray card: mean luminance == gray (0.299+0.587+0.114
    // sums to 1 in decimal; 6dp rounding absorbs the binary ulps)
    "q_multimodal_decode" ->
      """SELECT doc_id AS id,
        |  CAST(doc_id % 13 + 1 AS INT) AS width,
        |  CAST(doc_id % 7 + 1 AS INT) AS height,
        |  'png' AS format,
        |  CAST((doc_id % 13 + 1) * (doc_id % 7 + 1) AS BIGINT) AS n_pixels,
        |  ROUND(CAST(doc_id % 256 AS DOUBLE), 6) AS luma_r6
        |FROM documents ORDER BY id""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id AS id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
        |  CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
        |  'fake/' || CAST(octet_length(encode(text)) % 3 AS VARCHAR) AS format,
        |  md5(substr(hex(encode(text)), 1, 128)) AS head_hash,
        |  md5(array_to_string(list_transform(generate_series(1, length(text), 8),
        |      i -> substr(text, i, 1)), '')) AS frames_hash
        |FROM documents ORDER BY id""".stripMargin,

    // add-1-smoothed per-token KL contributions, identical-operand
    // double arithmetic after exact integer counts (ops.Drift)
    "q_drift_kl" ->
      """WITH t AS (SELECT lang AS slice, unnest(string_split(text, ' ')) AS tok
        |           FROM documents WHERE lang IN ('en', 'de')),
        |t2 AS (SELECT slice, tok FROM t WHERE tok <> ''),
        |c AS (SELECT tok,
        |        CAST(sum(CASE WHEN slice = 'en' THEN 1 ELSE 0 END)
        |             AS BIGINT) AS ca,
        |        CAST(sum(CASE WHEN slice = 'de' THEN 1 ELSE 0 END)
        |             AS BIGINT) AS cb
        |      FROM t2 GROUP BY tok),
        |tot AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
        |               CAST(sum(cb) AS DOUBLE) AS nb,
        |               CAST(count(*) AS DOUBLE) AS v FROM c)
        |SELECT tok, ca, cb,
        |  round(((CAST(ca AS DOUBLE) + 1.0) / (na + v))
        |        * ln(((CAST(ca AS DOUBLE) + 1.0) / (na + v))
        |             / ((CAST(cb AS DOUBLE) + 1.0) / (nb + v))), 6) AS kl_term
        |FROM c CROSS JOIN tot ORDER BY tok""".stripMargin)
}
