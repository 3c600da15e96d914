package graft.operators

import graft.GQuery
import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text analysis over `documents`: token statistics, quality scoring,
  * tf-idf, marker-word language ID, and rolling-hash fingerprinting —
  * the text half of the LLM-pipeline mandate.
  *
  * Everything is explode/groupBy/window over codegen'd built-ins; the
  * shuffles are on (doc_id) or (term), both well distributed. Integer
  * counts divide in double only at the last step so both engines agree
  * bit-for-bit.
  */
object TextAnalysis {

  /** Per-document token statistics. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        (expr("aggregate(ws, 0L, (acc, w) -> acc + length(w))").cast("double") /
          size(col("ws"))).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id, lang, n_chars,
      | cast(len(ws) as bigint) AS n_tokens,
      | cast(len(list_distinct(ws)) as bigint) AS n_distinct,
      | cast(list_sum(list_transform(ws, w -> length(w))) as double) / len(ws)
      |   AS avg_token_len
      |FROM (SELECT *, string_split(text, ' ') AS ws FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Corpus statistics per language. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy(col("lang"))

  // the integer sums are cast back to bigint: DuckDB's sum(BIGINT)
  // widens to HUGEINT, which would hash-mismatch Spark's long
  val langStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      | cast(sum(n_chars) as bigint) AS total_chars,
      | cast(sum(cast(len(string_split(text, ' ')) as bigint)) as bigint) AS total_tokens,
      | cast(sum(n_chars) as double) / count(*) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Quality scoring: length, lexical diversity, stopword ratio — the
    * standard cheap pre-filters of a training-data pipeline. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = "'the','a','of','and','to','in','is','on','for','with'"
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("n_chars"),
        size(col("ws")).cast("long").as("n_tokens"),
        round(size(array_distinct(col("ws"))).cast("double") / size(col("ws")), 6).as("uniq_ratio"),
        round(expr(s"size(filter(ws, w -> w in ($stop)))").cast("double") / size(col("ws")), 6).as("stopword_ratio"))
      .withColumn("quality",
        round(least(col("uniq_ratio") * 2, lit(1.0)) * when(col("n_tokens") >= 5, 1.0).otherwise(0.5), 6))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    """SELECT doc_id, n_chars,
      | cast(len(ws) as bigint) AS n_tokens,
      | round(cast(len(list_distinct(ws)) as double) / len(ws), 6) AS uniq_ratio,
      | round(cast(len(list_filter(ws, w -> w IN
      |   ('the','a','of','and','to','in','is','on','for','with'))) as double)
      |   / len(ws), 6) AS stopword_ratio,
      | round(least(round(cast(len(list_distinct(ws)) as double) / len(ws), 6) * 2, 1.0)
      |   * (CASE WHEN len(ws) >= 5 THEN 1.0 ELSE 0.5 END), 6) AS quality
      |FROM (SELECT *, string_split(text, ' ') AS ws FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** tf-idf: top-3 terms per document (score = tf · ln(N/df), ties
    * broken by term). Term-side shuffle only — no per-doc collect. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nDocs = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = terms.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tfidfTopTermsSql: String =
    """WITH terms AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      | SELECT doc_id, term, tf, df,
      |  round(tf * ln(cast(n_docs as double) / df), 6) AS tfidf
      | FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, rk, term, tf, df, tfidf FROM (
      | SELECT *, cast(row_number() OVER (PARTITION BY doc_id
      |   ORDER BY tfidf DESC, term) as bigint) AS rk
      | FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Okapi BM25 ranked retrieval (Robertson et al., TREC-3; the
    * Lucene-default scoring function) — the missing middle of the
    * text stack between `text_inverted_index` (the index) and
    * `text_tfidf_top_terms` (per-doc keywords): score DOCUMENTS
    * against QUERIES and return ranked results. Queries are the
    * doc_id < 5 documents (more-like-this retrieval); candidates come
    * from the inverted-index join on shared terms — candidate-linear,
    * the production retrieval shape (never queries × corpus).
    *
    * Cross-engine float discipline (what makes this fully
    * oracle-checkable where naive BM25 is not): the only libm call,
    * ln(), is quantized per TERM to an integer micro-idf
    * (`idf6 = round(idf · 1e6)`), so a last-ulp ln() divergence
    * between JVM and DuckDB would need to land within 1e-16 of a
    * 5e-7 rounding midpoint on one of ~5k terms to matter; every
    * other factor is integer-derived double arithmetic (exactly
    * rounded IEEE ops, identical in both engines, written in the
    * same evaluation order); per-term contributions are rounded to
    * the 1e-9 grid and summed EXACTLY in decimal(20,9) — the `dsum`
    * discipline — so the (q, d) score never depends on Spark's
    * partition-summation order. k1 = 1.2, b = 0.75. */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = df_.crossJoin(broadcast(stats.select(col("n_docs"))))
      .withColumn("idf6",
        expr("cast(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6) as bigint)"))
      .select(col("term"), col("idf6"))
    val qterms = terms.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("term")).distinct()
    qterms.join(tf, Seq("term"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats.select(col("avgdl"))))
      .withColumn("c", expr(
        "round((idf6 / 1e6) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(col("c").cast(org.apache.spark.sql.types.DecimalType(20, 9)))
        .cast("double"), 6).as("score"))
  }

  /** The BM25 CTE chain shared by the retrieval oracle and the hybrid
    * fusion oracle. */
  private[operators] val bm25SqlCtes: String =
    """terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |          cast(sum(dl) as double) / count(*) AS avgdl FROM dl),
      |idf AS (SELECT term,
      |  cast(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6) as bigint) AS idf6
      | FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN stats),
      |q AS (SELECT DISTINCT doc_id AS q_id, term FROM terms WHERE doc_id < 5),
      |contrib AS (
      | SELECT q.q_id, tf.doc_id,
      |  round((idf6 / 1e6) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 9) AS c
      | FROM q JOIN tf USING (term) JOIN idf USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      | WHERE tf.doc_id <> q.q_id),
      |bm25 AS (SELECT q_id, doc_id,
      |  round(cast(sum(cast(c as decimal(20,9))) as double), 6) AS score
      | FROM contrib GROUP BY 1, 2)""".stripMargin

  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))
    bm25Scores(spark, dir)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("doc_id"), col("score"))
      .orderBy(col("q_id"), col("rk"))
  }

  val bm25TopkSql: String =
    s"""WITH $bm25SqlCtes
       |SELECT q_id, rk, doc_id, score FROM (
       | SELECT *, cast(row_number() OVER (PARTITION BY q_id
       |   ORDER BY score DESC, doc_id) as bigint) AS rk
       | FROM bm25)
       |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Marker-word language ID (n-gram-style heuristic): vote per
    * language marker list, argmax with alphabetical tie-break,
    * 'unknown' when nothing matches. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val markers = Seq(
      ("en", "the"), ("en", "of"), ("en", "and"), ("en", "is"),
      ("de", "der"), ("de", "und"), ("de", "die"), ("de", "nicht"),
      ("fr", "le"), ("fr", "et"), ("fr", "la"), ("fr", "les"),
      ("es", "el"), ("es", "los"), ("es", "que"), ("es", "por"),
      ("zh", "的"), ("zh", "是"),
    ).toDF("cand_lang", "marker")
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val votes = toks.join(broadcast(markers), col("w") === col("marker"))
      .groupBy(col("doc_id"), col("cand_lang")).agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("cand_lang"))
    val best = votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("doc_id"), col("cand_lang"), col("hits"))
    t(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("marker_hits"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    """WITH markers(cand_lang, marker) AS (VALUES
      | ('en','the'),('en','of'),('en','and'),('en','is'),
      | ('de','der'),('de','und'),('de','die'),('de','nicht'),
      | ('fr','le'),('fr','et'),('fr','la'),('fr','les'),
      | ('es','el'),('es','los'),('es','que'),('es','por'),
      | ('zh','的'),('zh','是')),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |votes AS (
      | SELECT doc_id, cand_lang, count(*) AS hits
      | FROM toks JOIN markers ON w = marker GROUP BY 1, 2),
      |best AS (
      | SELECT doc_id, cand_lang, hits FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY hits DESC, cand_lang) AS rk FROM votes)
      | WHERE rk = 1)
      |SELECT d.doc_id, d.lang,
      | coalesce(b.cand_lang, 'unknown') AS pred_lang,
      | coalesce(b.hits, 0) AS marker_hits
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** LANGUAGE-ID EVALUATION — the confusion matrix of [[langId]]'s
    * marker-vote heuristic against the corpus labels, with per-cell
    * recall (share of the TRUE language routed here) and precision
    * (share of THIS prediction that is right) in basis points: the
    * numbers that decide whether a language router is good enough to
    * gate a multilingual training mix. One answer-sized confusion
    * aggregate (|langs|² ≤ dozens of rows), checkpointed because the
    * marginals re-reference it (the r12 double-execution class);
    * everything integer ⇒ fully DuckDB-replayed on top of the langId
    * derivation itself. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = langId(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val byTrue = conf.groupBy(col("lang")).agg(sum(col("n")).as("t"))
    val byPred = conf.groupBy(col("pred_lang")).agg(sum(col("n")).as("p"))
    conf.join(broadcast(byTrue), Seq("lang"))
      .join(broadcast(byPred), Seq("pred_lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("n * 10000 div t").as("recall_bp"),
        expr("n * 10000 div p").as("precision_bp"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langIdEvalSql: String =
    s"""WITH li AS ($langIdSql),
       |conf AS (
       | SELECT lang, pred_lang, cast(count(*) as bigint) AS n
       | FROM li GROUP BY 1, 2),
       |tt AS (SELECT lang, cast(sum(n) as bigint) AS t FROM conf GROUP BY 1),
       |tp AS (SELECT pred_lang, cast(sum(n) as bigint) AS p FROM conf GROUP BY 1)
       |SELECT c.lang, c.pred_lang, c.n,
       | cast(c.n * 10000 // tt.t as bigint) AS recall_bp,
       | cast(c.n * 10000 // tp.p as bigint) AS precision_bp
       |FROM conf c JOIN tt USING (lang) JOIN tp USING (pred_lang)
       |ORDER BY c.lang, c.pred_lang""".stripMargin

  /** COHEN'S KAPPA (Cohen, Educ. Psychol. Meas. '60) for the language
    * router — the CHANCE-CORRECTED summary the confusion matrix
    * ([[langIdEval]]) doesn't give: raw agreement po flatters any
    * classifier on a skewed label mix (predict the majority language
    * and po is already high); kappa subtracts the agreement the
    * margins produce by chance, κ = (po − pe)/(1 − pe). Computed as
    * one exact integer rational: κ_bp = (N·Σdiag − Σ_c t_c·p_c)·10⁴
    * div (N² − Σ_c t_c·p_c) — int64-exact to N ≈ 3·10⁷ docs per
    * evaluated corpus slice (beyond that widen the two products to
    * decimal(38,0), the Spearman discipline). Chance products join
    * the two CLASS-sized margin tables — everything after the
    * confusion aggregate is answer-sized. */
  def langIdKappa(spark: SparkSession, dir: String): DataFrame = {
    val conf = langId(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // consumed by totals, diagonal, both margins
    val totals = conf.agg(sum(col("n")).as("n_total"),
      sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
        .as("n_agree"))
    val byTrue = conf.groupBy(col("lang").as("c")).agg(sum(col("n")).as("t"))
    val byPred = conf.groupBy(col("pred_lang").as("c")).agg(sum(col("n")).as("p"))
    val chance = byTrue.join(byPred, Seq("c"))
      .agg(coalesce(sum(expr("t * p")), lit(0L)).as("chance_sum"))
    totals.crossJoin(broadcast(chance))
      .select(col("n_total"), col("n_agree"),
        expr("n_agree * 10000L div n_total").as("po_bp"),
        expr("chance_sum * 10000L div (n_total * n_total)").as("pe_bp"),
        expr("(n_agree * n_total - chance_sum) * 10000L div " +
          "(n_total * n_total - chance_sum)").as("kappa_bp"))
  }

  val langIdKappaSql: String =
    s"""WITH li AS ($langIdSql),
       |conf AS (
       | SELECT lang, pred_lang, cast(count(*) as bigint) AS n
       | FROM li GROUP BY 1, 2),
       |tot AS (
       | SELECT cast(sum(n) as bigint) AS n_total,
       |  cast(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) as bigint)
       |    AS n_agree
       | FROM conf),
       |tt AS (SELECT lang AS c, cast(sum(n) as bigint) AS t FROM conf GROUP BY 1),
       |tp AS (SELECT pred_lang AS c, cast(sum(n) as bigint) AS p FROM conf GROUP BY 1),
       |ch AS (
       | SELECT cast(coalesce(sum(t * p), 0) as bigint) AS chance_sum
       | FROM tt JOIN tp USING (c))
       |SELECT n_total, n_agree,
       | cast(n_agree * 10000 // n_total as bigint) AS po_bp,
       | cast(chance_sum * 10000 // (n_total * n_total) as bigint) AS pe_bp,
       | cast((n_agree * n_total - chance_sum) * 10000 //
       |      (n_total * n_total - chance_sum) as bigint) AS kappa_bp
       |FROM tot, ch""".stripMargin

  /** Vocabulary coverage grid — committed like every design knob. */
  // grid sized to the fixture's 31-type vocabulary so the curve is a
  // CURVE here (at production scale the same entry runs {1e4, 32e3,
  // 1e5} — the knob, not the shape, changes)
  private val coverageKs = Seq(4L, 8L, 16L)

  /** VOCABULARY COVERAGE CURVE — the table a tokenizer budget is
    * designed from: what share of all token OCCURRENCES do the top-k
    * vocabulary types cover, for k on a committed grid? (Zipf's law
    * says a tiny head covers most of the mass — `text_zipf_stats`
    * fits the exponent; this entry gives the operational numbers: the
    * OOV rate of a size-k vocab is 10⁴ − coverage_bp.) Types rank by
    * (freq desc, term) — a total order, so the curve is exact, not
    * sampled.
    *
    * Scale shape: one token-grain aggregation to the vocab table
    * (type-sized from there on); rank and cumulative mass via two
    * DistRank passes (no single-partition window); the k grid joins
    * as a 3-row broadcast against the cumulative line. */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val vocab = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val ranked = graft.operators.DistRank.withRowNumber(
      vocab, Seq(col("freq").desc, col("term")), "rk")
    val withCum = graft.operators.DistRank.withPrefix(
      ranked, Seq(col("rk")), col("freq"), "sum", "cum")
      .localCheckpoint(true) // consumed once per grid point + the totals
    val totals = withCum.agg(max(col("cum")).as("total"),
      count(lit(1)).as("vocab_size"))
    val grid = spark.createDataFrame(coverageKs.map(Tuple1(_))).toDF("k")
    broadcast(grid)
      .join(withCum, col("rk") === col("k"), "left") // cum at rank k
      .crossJoin(broadcast(totals))
      .select(col("k"), col("vocab_size"), col("total").as("total_tokens"),
        coalesce(col("cum"), col("total")).as("covered_tokens"),
        expr("coalesce(cum, total) * 10000 div total").as("coverage_bp"))
      .orderBy(col("k"))
  }

  val coverageCurveSql: String = {
    val ks = coverageKs.mkString(", ")
    s"""WITH vocab AS (
       | SELECT term, cast(count(*) as bigint) AS freq
       | FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       | GROUP BY term),
       |ranked AS (
       | SELECT freq,
       |  cast(row_number() OVER (ORDER BY freq DESC, term) as bigint) AS rk
       | FROM vocab),
       |withcum AS (
       | SELECT rk, cast(sum(freq) OVER (ORDER BY rk) as bigint) AS cum
       | FROM ranked),
       |tot AS (SELECT max(cum) AS total,
       |        cast(count(*) as bigint) AS vocab_size FROM withcum),
       |grid(k) AS (SELECT unnest([$ks]))
       |SELECT cast(g.k as bigint) AS k, t.vocab_size,
       | t.total AS total_tokens,
       | cast(coalesce(w.cum, t.total) as bigint) AS covered_tokens,
       | cast(coalesce(w.cum, t.total) * 10000 // t.total as bigint)
       |   AS coverage_bp
       |FROM grid g LEFT JOIN withcum w ON w.rk = g.k CROSS JOIN tot t
       |ORDER BY k""".stripMargin
  }

  /** Document fingerprint: winnowed rolling hash — min/max xxhash64
    * over 4-token windows (content-defined, shift-invariant). The
    * hash fn is engine-specific, but hash-green since round 10 via
    * the sidecar discipline: the per-window hash TABLE is dumped once
    * per run and DuckDB replays the whole relational remainder —
    * grouping, min/max/count aggregation, ordering — against it (the
    * `sample_hash_deterministic` pattern; hash determinism itself is
    * spec-pinned). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val grams = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 4)
      .withColumn("grams", expr(
        "transform(sequence(1, size(ws)-3), i -> xxhash64(concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2), element_at(ws,i+3))))"))
    oracleSidecar("documents_gramhash",
      grams.select(col("doc_id"), explode(col("grams")).as("h")))
    grams
      .select(col("doc_id"),
        expr("aggregate(grams, 9223372036854775807L, (acc, h) -> least(acc, h))").as("fp_min"),
        expr("aggregate(grams, -9223372036854775808L, (acc, h) -> greatest(acc, h))").as("fp_max"),
        size(col("grams")).cast("long").as("n_grams"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    s"""SELECT doc_id, min(h) AS fp_min, max(h) AS fp_max,
       | cast(count(*) as bigint) AS n_grams
       |FROM read_parquet('${oracleSidecarGlob("documents_gramhash")}')
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BPE-ish regex tokenization vs whitespace tokenization: runs of
    * letters, runs of digits, and single punctuation marks each count
    * as one token (the pre-tokenizer shape BPE vocabularies train
    * over) — counted per document next to the whitespace count. */
  def tokenRegex(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long").as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
      .orderBy(col("doc_id"))

  val tokenRegexSql: String =
    """SELECT doc_id, lang,
      | cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) as bigint)
      |   AS n_bpe_tokens,
      | cast(len(string_split(text, ' ')) as bigint) AS n_ws_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sequence packing — lay the corpus out as fixed-capacity training
    * sequences (capacity 256 tokens). Documents are concatenated in
    * doc_id order per language and each doc is assigned to the
    * sequence where its FIRST token lands (floor(start/capacity) —
    * the concat-then-chunk layout used when packing pretraining data;
    * with per-language partitioning the window prefix-sum
    * parallelizes across languages, and at 100 TB the partition key
    * becomes (lang, shard) so no single ordering spans the corpus).
    * Output: per-sequence occupancy stats — the packing-efficiency
    * report a data pipeline uses to pick its capacity. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val cap = 256
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("start") / cap))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"), col("seq_id"))
  }

  val packSequencesSql: String =
    """WITH toks AS (
      | SELECT doc_id, lang,
      |  cast(len(string_split(text, ' ')) as bigint) AS n_tokens
      | FROM documents),
      |pos AS (
      | SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      | FROM toks)
      |SELECT lang, cast(floor(start / 256) as bigint) AS seq_id,
      | count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS n_tokens,
      | min(doc_id) AS first_doc
      |FROM pos GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin

  /** PII scrubbing — the redaction pass a corpus runs before training:
    * emails, long digit runs, and a configurable lexicon are replaced
    * by placeholder tokens, with an audit count per language (how many
    * documents were touched, how many spans redacted). The email/digit
    * regexes are the production patterns; the lexicon is what fires on
    * this synthetic corpus. One projection + one aggregation — scales
    * trivially. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val pat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|[0-9]{6,}|\\b(customer|key)\\b"
    t(spark, dir, "documents")
      .withColumn("n_redactions",
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("text"), pat, "<PII>"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_redactions") > 0, 1L).otherwise(0L)).as("n_docs_touched"),
        sum(col("n_redactions")).cast("long").as("n_redactions"),
        sum(length(col("text")) - length(col("scrubbed"))).cast("long").as("chars_delta"))
      .orderBy(col("lang"))
  }

  val piiScrubSql: String =
    """WITH r AS (
      | SELECT lang,
      |  cast(len(regexp_extract_all(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|[0-9]{6,}|\b(customer|key)\b')) as bigint)
      |    AS n_redactions,
      |  length(text) - length(regexp_replace(text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|[0-9]{6,}|\b(customer|key)\b',
      |    '<PII>', 'g')) AS delta
      | FROM documents)
      |SELECT lang, count(*) AS n_docs,
      | cast(sum(CASE WHEN n_redactions > 0 THEN 1 ELSE 0 END) as bigint) AS n_docs_touched,
      | cast(sum(n_redactions) as bigint) AS n_redactions,
      | cast(sum(delta) as bigint) AS chars_delta
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin

  /** The committed phrase blocklist for [[blocklistFilter]]. Every
    * phrase is BORDERLESS (no proper prefix that is also a suffix) —
    * asserted by Round14Spec via [[graft.functions.PhraseMatchCount
    * .isBorderless]] — which is the precondition making the DuckDB
    * replace-count twin exactly equal to the automaton's
    * all-occurrences count (borderless ⇒ a phrase cannot overlap
    * itself, so non-overlapping count = total count). */
  val blocklistPhrases: Seq[String] = Seq(
    "slow fast", "hash value", "table value", "key agg row",
    "merge batch", "scan slow", "spark")

  /** Blocklist phrase filter — the wordlist/NSFW-phrase screening pass
    * every web-corpus pipeline runs before training. Multi-phrase
    * matching is ONE fused Aho–Corasick scan per document via the
    * native codegen expression [[graft.functions.PhraseMatchCount]]:
    * at 100 TB the alternatives either explode |tokens| rows into an
    * n-gram equi-join (shuffles the token count of the corpus) or run
    * one regexp per phrase (P regex scans per row); this is O(bytes)
    * per row for any blocklist size, no shuffle before the final
    * per-(lang, source) rollup, and the compiled automaton ships once
    * as a codegen reference object. Reference scope: the sandbox's
    * filter stage (KStreamsToKTable.java:64-66) keys on exact
    * key==value equality; this is the corpus-scale generalization to
    * content phrase screening. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("hits",
        graft.functions.PhraseMatchCount.phraseHits(col("text"), blocklistPhrases))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_flagged"),
        sum(col("hits")).as("total_hits"),
        max(col("hits")).as("max_hits"))
      .orderBy(col("lang"), col("source"))

  val blocklistFilterSql: String = {
    val perPhrase = blocklistPhrases.map(p =>
      s"(length(text) - length(replace(text, '$p', ''))) // ${p.length}")
      .mkString("\n      |   + ")
    s"""WITH h AS (
      | SELECT lang, source,
      |   cast($perPhrase as bigint) AS hits
      | FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      | cast(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) as bigint) AS docs_flagged,
      | cast(sum(hits) as bigint) AS total_hits,
      | cast(max(hits) as bigint) AS max_hits
      |FROM h GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  /** Length-bucketed batching economics — the padding-waste ledger a
    * training pipeline consults when choosing bucket boundaries for
    * fixed-shape batches: each document lands in the smallest
    * power-of-two token cap that holds it, and the report prices the
    * padding each (lang, cap) bucket pays, in integer basis points
    * (waste_bp = padding·10⁴ div capacity — no float division, any
    * corpus size). The cap chain is a static CASE (never float log2:
    * ln-ratio log2 misrounds at exact powers of two, e.g.
    * ln(64)/ln(2) → 6.000000000000001 → ceil 7). One narrow
    * projection + one small-cardinality rollup — nothing here grows
    * with more than the document count. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cap",
        when(col("n_tokens") <= 16, 16L).when(col("n_tokens") <= 32, 32L)
          .when(col("n_tokens") <= 64, 64L).when(col("n_tokens") <= 128, 128L)
          .when(col("n_tokens") <= 256, 256L).when(col("n_tokens") <= 512, 512L)
          .otherwise(1024L))
      .groupBy(col("lang"), col("cap"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("cap") - col("n_tokens")).as("total_padding"))
      .withColumn("waste_bp",
        expr("total_padding * 10000 div (n_docs * cap)"))
      .orderBy(col("lang"), col("cap"))

  val lengthBucketsSql: String =
    """WITH b AS (
      | SELECT lang,
      |  cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
      |  cast(CASE WHEN len(string_split(text, ' ')) <= 16 THEN 16
      |            WHEN len(string_split(text, ' ')) <= 32 THEN 32
      |            WHEN len(string_split(text, ' ')) <= 64 THEN 64
      |            WHEN len(string_split(text, ' ')) <= 128 THEN 128
      |            WHEN len(string_split(text, ' ')) <= 256 THEN 256
      |            WHEN len(string_split(text, ' ')) <= 512 THEN 512
      |            ELSE 1024 END as bigint) AS cap
      | FROM documents)
      |SELECT lang, cap, count(*) AS n_docs,
      | cast(sum(n_tokens) as bigint) AS total_tokens,
      | cast(sum(cap - n_tokens) as bigint) AS total_padding,
      | cast(sum(cap - n_tokens) * 10000 // (count(*) * cap) as bigint)
      |   AS waste_bp
      |FROM b GROUP BY lang, cap ORDER BY lang, cap""".stripMargin

  /** Repetition filter — the boilerplate detector of the published
    * corpus-quality rulesets: fraction of duplicate word 2-grams per
    * document, documents above 0.2 flagged. Per-language report uses
    * only counts and an order-independent max (no float accumulation
    * across rows — the dup fraction itself is a single exact IEEE
    * division, identical in both engines). */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(ws)-1), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1)))"))
      .withColumn("dup_frac",
        lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_frac") > 0.2, 1L).otherwise(0L)).as("n_flagged"),
        round(max(col("dup_frac")), 6).as("worst_dup_frac"))
      .orderBy(col("lang"))

  val repetitionFilterSql: String =
    """WITH bg AS (
      | SELECT lang,
      |  list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1]) AS bigrams
      | FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)
      | WHERE len(ws) >= 2),
      |f AS (
      | SELECT lang,
      |  1.0 - cast(len(list_distinct(bigrams)) as double) / len(bigrams) AS dup_frac
      | FROM bg)
      |SELECT lang, count(*) AS n_docs,
      | cast(sum(CASE WHEN dup_frac > 0.2 THEN 1 ELSE 0 END) as bigint) AS n_flagged,
      | round(max(dup_frac), 6) AS worst_dup_frac
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-source quality gate — corpus pipelines score and drop whole
    * SOURCES, not just documents: per source, count docs failing the
    * quality rules (under 5 tokens or lexical diversity < 0.3) and
    * verdict-drop any source where more than half fail. Counts only →
    * engine-exact. */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws", split(regexp_replace(trim(lower(col("text"))), " +", " "), " "))
      .withColumn("bad",
        when(size(col("ws")) < 5 ||
          size(array_distinct(col("ws"))).cast("double") / size(col("ws")) < 0.3, 1L)
          .otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bad")).as("n_low_quality"),
        sum(size(col("ws")).cast("long")).as("total_tokens"))
      .withColumn("verdict",
        when(col("n_low_quality") * 2 > col("n_docs"), "drop").otherwise("keep"))
      .orderBy(col("source"))

  val sourceQualitySql: String =
    """WITH d AS (
      | SELECT source, string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS ws
      | FROM documents)
      |SELECT source, count(*) AS n_docs,
      | cast(sum(CASE WHEN len(ws) < 5
      |   OR cast(len(list_distinct(ws)) as double) / len(ws) < 0.3
      |   THEN 1 ELSE 0 END) as bigint) AS n_low_quality,
      | cast(sum(cast(len(ws) as bigint)) as bigint) AS total_tokens,
      | CASE WHEN sum(CASE WHEN len(ws) < 5
      |   OR cast(len(list_distinct(ws)) as double) / len(ws) < 0.3
      |   THEN 1 ELSE 0 END) * 2 > count(*) THEN 'drop' ELSE 'keep' END AS verdict
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** Corpus heavy hitters via the native Misra–Gries sketch aggregate
    * (graft.functions.MisraGriesTopK — TypedImperativeAggregate,
    * partial-aggregable, fixed `capacity` counters per partition
    * buffer). The fixture vocabulary (31 terms) is under the capacity
    * (64), so the sketch counts are EXACT and the query oracle-checks
    * against the true groupBy; at web scale the same plan keeps 64
    * counters per partition instead of shuffling the full vocabulary,
    * with the n/(capacity+1) Misra–Gries bound (property-spec'd with a
    * small capacity). */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(graft.functions.MisraGriesTopK.misraGries(col("w"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term").as("term"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("term"))

  val heavyHittersSql: String =
    """SELECT w AS term, cast(count(*) as bigint) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY n DESC, term""".stripMargin

  /** Bigram-LM perplexity scoring — the published corpus pipelines
    * score every document against a small language model and drop the
    * high-perplexity tail (wikipedia-trained KenLM in CCNet; here a
    * bigram model with add-k smoothing trained on the corpus itself,
    * which is the same plan shape). Distributed as three counting
    * aggregations (bigram contexts, bigram pairs, vocab size) joined
    * back to the exploded bigrams on their natural keys — the model
    * "parameters" are a TABLE, not a driver-side object, so the same
    * plan trains on one shard and scores 100 TB. Each bigram's
    * -ln p(w2|w1) is rounded to 6 decimals and accumulated in exact
    * decimal so the per-doc average is partition-order independent
    * (the repo's float discipline). */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.5
    val docs = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
    // checkpointed: it feeds three derivations (pair counts, context
    // counts, the scoring join) and Spark does not dedupe common
    // subplans — without it documents would re-tokenize per use
    val bigrams = docs
      .withColumn("b", explode(expr(
        "transform(sequence(1, size(ws)-1), i -> struct(element_at(ws,i) AS w1, element_at(ws,i+1) AS w2))")))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(true)
    val pairCounts = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val ctxCounts = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    val vocab = docs
      .select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val nll = bigrams
      .join(pairCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", round(
        -log((col("cb") + alpha) / (col("cw") + lit(alpha) * col("v"))), 6))
    nll.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll").cast("decimal(18,6)")).as("s"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  val perplexitySql: String =
    """WITH toks AS (
      | SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      | SELECT doc_id, lang,
      |  unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
      | FROM toks WHERE len(ws) >= 2),
      |pc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
      |cc AS (SELECT w1, count(*) AS cw FROM bg GROUP BY 1),
      |vb AS (
      | SELECT count(DISTINCT w) AS v
      | FROM (SELECT unnest(ws) AS w FROM toks WHERE len(ws) >= 2)),
      |nll AS (
      | SELECT doc_id, lang,
      |  round(-ln((cb + 0.5) / (cw + 0.5 * v)), 6) AS nll
      | FROM bg JOIN pc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN vb)
      |SELECT doc_id, lang, count(*) AS n_bigrams,
      | round(cast(sum(cast(nll as decimal(18,6))) as double) / count(*), 6) AS avg_nll
      |FROM nll GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  /** DSIR-style importance weighting (Xie et al., NeurIPS'23 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how TARGET-like its token distribution is,
    * log w(d) = Σ_t c_{t,d} · (ln p̂_target(t) − ln p̂_raw(t)), and
    * keep documents whose weight is positive (more probable under the
    * curated seed distribution than under the raw crawl). The seed
    * slice here is the deterministic doc_id % 5 = 0 subset (a stand-in
    * for "wikipedia-quality" pages); both distributions are
    * add-0.5-smoothed over the RAW vocabulary and live as TABLES —
    * token → (raw count, target count) — so "apply the importance
    * model" is an equi-join on the token, the same plan that trains on
    * one curated shard and scores 100 TB of crawl. Per-token log-ratio
    * is rounded to the 1e-6 grid and the per-doc sum accumulates in
    * exact decimal (the repo float discipline), so the entry is fully
    * hash-checked. At 100 TB the paper's hashed-n-gram variant swaps
    * tokens for pmod(xxhash64(gram), 2^k) buckets — identical plan
    * with a bounded feature table. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .localCheckpoint(true) // feeds per-doc counts + both distributions
    val perDoc = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("ct"))
    val rawC = toks.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgtC = toks.filter(col("doc_id") % 5 === 0)
      .groupBy(col("w")).agg(count(lit(1)).as("ctg"))
    val totals = toks.agg(
      count(lit(1)).as("nr"),
      sum(when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("ntg"),
      countDistinct(col("w")).as("v"))
    val ratio = rawC.join(tgtC, Seq("w"), "left")
      .withColumn("ctg", coalesce(col("ctg"), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        round(log((col("ctg") + 0.5) / (col("ntg") + lit(0.5) * col("v"))), 6) -
        round(log((col("cr") + 0.5) / (col("nr") + lit(0.5) * col("v"))), 6))
    perDoc.join(ratio.select(col("w"), col("lr")), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("ct")).as("n_tokens"),
        sum(round(col("ct") * col("lr"), 6).cast("decimal(18,6)")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast("double"), 6).as("log_weight"),
        (col("s") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |pd AS (SELECT doc_id, w, count(*) AS ct FROM toks GROUP BY 1, 2),
      |rawc AS (SELECT w, count(*) AS cr FROM toks GROUP BY 1),
      |tgtc AS (SELECT w, count(*) AS ctg FROM toks WHERE doc_id % 5 = 0 GROUP BY 1),
      |tot AS (
      | SELECT count(*) AS nr,
      |  cast(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) as bigint) AS ntg,
      |  count(DISTINCT w) AS v
      | FROM toks),
      |ratio AS (
      | SELECT w,
      |  round(ln((coalesce(ctg, 0) + 0.5) / (ntg + 0.5 * v)), 6) -
      |  round(ln((cr + 0.5) / (nr + 0.5 * v)), 6) AS lr
      | FROM rawc LEFT JOIN tgtc USING (w) CROSS JOIN tot)
      |SELECT doc_id, cast(sum(ct) as bigint) AS n_tokens,
      | round(cast(sum(cast(round(ct * lr, 6) as decimal(18,6))) as double), 6) AS log_weight,
      | sum(cast(round(ct * lr, 6) as decimal(18,6))) > 0 AS keep
      |FROM pd JOIN ratio USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Boilerplate n-gram detection (C4/RefinedWeb-style): a word bigram
    * occurring in ≥ 8 % of all documents is template text, not
    * content; each document reports how much of it is boilerplate and
    * a drop verdict. The threshold is RELATIVE (df·100 ≥ 8·corpus
    * size, integer arithmetic — scale-free across SFs and exact in
    * both engines). Plan shape: one explode pass → distinct(doc, gram)
    * → df counts; the boilerplate vocabulary is bounded by the gram
    * space, so the rejoin broadcasts; per-doc aggregation shuffles on
    * doc_id only. The ratio is one int/int double division — bit-equal
    * unrounded in both engines. */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val grams = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-1), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1)))"
      )).as("g"))
    val df = grams.distinct().groupBy(col("g")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val boiler = df.crossJoin(broadcast(total))
      .filter(col("df") * 100 >= col("n_total") * 8)
      .select(col("g"), lit(1).as("is_b"))
    grams.join(broadcast(boiler), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("is_b")).as("n_boiler"))
      .withColumn("boiler_ratio", col("n_boiler").cast("double") / col("n_grams"))
      .withColumn("drop", col("boiler_ratio") >= 0.5)
      .orderBy(col("doc_id"))
  }

  val boilerplateNgramsSql: String =
    """WITH grams AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 2),
      |df AS (
      |  SELECT g, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g),
      |total AS (SELECT count(*) AS n_total FROM documents),
      |boiler AS (SELECT g FROM df, total WHERE df * 100 >= n_total * 8)
      |SELECT gr.doc_id, count(*) AS n_grams, count(b.g) AS n_boiler,
      |       cast(count(b.g) AS double) / count(*) AS boiler_ratio,
      |       (cast(count(b.g) AS double) / count(*)) >= 0.5 AS "drop"
      |FROM grams gr LEFT JOIN boiler b ON gr.g = b.g
      |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin

  /** Corpus-order n-gram NOVELTY — the marginal-contribution measure
    * behind dedup-curve analyses (Lee et al. "Deduplicating Training
    * Data Makes Language Models Better", ACL'22, §4 measures how much
    * each additional shard adds): in ingestion order (doc_id), a doc's
    * trigram is novel iff NO earlier doc contains it, and the doc's
    * novelty = novel / distinct trigrams (basis points, exact
    * integers). A shard of near-copies scores ~0 and can be dropped
    * before tokenization. The plan is the scalable shape: distinct
    * (doc, gram) pairs → first-occurrence doc per gram (one
    * aggregation, gram-keyed) → join back gram-keyed (co-partitioned
    * with the aggregation's exchange) → per-doc counts. Corpus-linear,
    * every shuffle keyed on the gram hash; nothing is pairwise. At
    * 100 TB the gram table is the dominant term — the same footprint
    * the MinHash pipeline already carries. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws)-2), i -> concat_ws(' ', element_at(ws,i), element_at(ws,i+1), element_at(ws,i+2)))"
      )).as("g"))
      .distinct()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        // integer div: both operands nonnegative, so Spark div (trunc)
        // and DuckDB // (floor) agree
        expr("n_novel * 10000 div n_grams").cast("long").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
    """WITH grams AS (
      | SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3)),
      |first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
      |SELECT gr.doc_id, cast(count(*) as bigint) AS n_grams,
      | cast(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) as bigint) AS n_novel,
      | cast((sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) * 10000)
      |   // count(*) as bigint) AS novelty_bp
      |FROM grams gr JOIN first f USING (g)
      |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin

  /** Unicode cleanup — the canonical first pass over crawled text:
    * NFC-normalize (via the native codegen expression
    * [[graft.functions.NfcNormalize]] — Spark has no built-in), map
    * NBSP → space and delete zero-width spaces, collapse whitespace
    * runs, trim. The fixture text is ASCII, so the query FIRST builds a
    * deterministic dirty variant (decomposed `e`+U+0301, NBSP, ZWSP
    * wrappers around each doc's prefix) and then proves the cleanup
    * canonicalizes it — the oracle replays the same construction with
    * DuckDB's `nfc_normalize`, so composition semantics are
    * cross-checked engine-to-engine, not assumed. Per-row narrow work,
    * no shuffle: at 100 TB this runs at scan speed.
    */
  def unicodeClean(spark: SparkSession, dir: String): DataFrame = {
    val comb = "\u0301" // COMBINING ACUTE ACCENT
    val nbsp = "\u00A0"
    val zwsp = "\u200B"
    t(spark, dir, "documents")
      .withColumn("dirty",
        concat(lit("Cafe" + comb + nbsp), substring(col("text"), 1, 60),
          lit("  " + zwsp + "e" + comb)))
      .withColumn("nfc", graft.functions.NfcNormalize.nfcNormalize(col("dirty")))
      .withColumn("cleaned",
        trim(regexp_replace(translate(col("nfc"), nbsp + zwsp, " "), "[ \t\r\n]+", " ")))
      .select(col("doc_id"),
        length(col("dirty")).cast("long").as("len_raw"),
        length(col("cleaned")).cast("long").as("len_clean"),
        (col("dirty") =!= col("cleaned")).as("changed"),
        col("cleaned"))
      .orderBy(col("doc_id"))
  }

  // chr(769)=U+0301 combining acute, chr(160)=NBSP, chr(8203)=ZWSP —
  // spelled via chr() so the oracle JSON stays pure ASCII
  val unicodeCleanSql: String =
    """WITH dirty AS (
      |  SELECT doc_id,
      |         'Cafe' || chr(769) || chr(160) || substring(text, 1, 60)
      |           || '  ' || chr(8203) || 'e' || chr(769) AS dirty
      |  FROM documents),
      |cleaned AS (
      |  SELECT doc_id, dirty,
      |         trim(regexp_replace(
      |           translate(nfc_normalize(dirty), chr(160) || chr(8203), ' '),
      |           '[ \t\r\n]+', ' ', 'g')) AS cleaned
      |  FROM dirty)
      |SELECT doc_id,
      |       length(dirty) AS len_raw,
      |       length(cleaned) AS len_clean,
      |       dirty <> cleaned AS changed,
      |       cleaned
      |FROM cleaned ORDER BY doc_id""".stripMargin

  /** CCNet-style perplexity bucketing: the corpus split into
    * head/middle/tail tertiles by bigram-LM perplexity (low = cleanest
    * — the bucket CCNet keeps for LM training). Buckets come from
    * `ntile(3)` over (avg_nll, doc_id) — deterministic, same remainder
    * rule in both engines. The per-bucket mean nll accumulates in
    * decimal(18,6) (inputs are already 6-decimal-rounded), so both
    * engines agree bit-for-bit. Composes the trained-as-tables LM of
    * `text_perplexity`; the oracle nests that entry's full SQL as a
    * CTE — one pipeline, two engines. The tertile cut runs through
    * DistRank.withNtile (range partitioner + per-partition offsets) —
    * no single-partition sort at any corpus size. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val ppl = perplexity(spark, dir)
    DistRank.withNtile(ppl, Seq(col("avg_nll"), col("doc_id")), 3, "t")
      .withColumn("bucket",
        when(col("t") === 1, "head").when(col("t") === 2, "middle").otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("avg_nll").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"),
        round(min(col("avg_nll")), 6).as("min_nll"),
        round(max(col("avg_nll")), 6).as("max_nll"))
      .orderBy(col("bucket"))
  }

  def ccnetBucketsSql: String =
    s"""WITH ppl AS ($perplexitySql),
       |b AS (
       |  SELECT doc_id, avg_nll,
       |         ntile(3) OVER (ORDER BY avg_nll, doc_id) AS t
       |  FROM ppl)
       |SELECT CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |       count(*) AS n_docs,
       |       round(cast(sum(cast(avg_nll as decimal(18,6))) as double) / count(*), 6) AS mean_nll,
       |       round(min(avg_nll), 6) AS min_nll,
       |       round(max(avg_nll), 6) AS max_nll
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Multinomial Naive Bayes language classifier trained AS TABLES —
    * the fasttext-style corpus classifier of a training-data pipeline
    * (source/quality/language gating) with NO driver-side model, the
    * same discipline as `text_perplexity`: the "model" is three
    * aggregations (class priors, per-class token totals, per-(class,
    * word) counts) Laplace-smoothed over the full (vocab × classes)
    * grid, and inference is an equi-join + per-doc sum. Every log is
    * rounded to 6 decimals and accumulated in decimal(18,6), so both
    * engines compute bit-identical scores and the ARGMAX (ties broken
    * by class name) is hash-stable; train/test split by doc_id parity.
    * Output is the confusion matrix (true lang × predicted lang), so
    * the oracle checks every prediction without shipping 250 rows of
    * scores. Scale shape: vocab-sized model tables (broadcastable),
    * one explode pass over test docs, shuffles keyed on word then
    * doc_id — nothing corpus². */
  def nbClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)

    val trainTok = train.select(col("lang").as("c"), explode(col("ws")).as("w"))
    val classTok = trainTok.groupBy(col("c")).agg(count(lit(1)).as("tok_c"))
    val wc = trainTok.groupBy(col("c"), col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = trainTok.select(col("w")).distinct()
    val vocabN = vocab.agg(count(lit(1)).as("v"))
    val classes = train.groupBy(col("lang").as("c")).agg(count(lit(1)).as("docs_c"))
    val totalN = train.agg(count(lit(1)).as("n_train"))

    // model table 1: log-likelihood for EVERY (word, class) cell
    val lik = vocab.crossJoin(classes.select(col("c")))
      .join(wc, Seq("w", "c"), "left")
      .join(classTok, Seq("c"))
      .crossJoin(broadcast(vocabN))
      .select(col("w"), col("c"),
        round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("tok_c") + col("v")).cast("double")), 6)
          .cast("decimal(18,6)").as("loglik"))
    // model table 2: class log-priors
    val prior = classes.crossJoin(broadcast(totalN))
      .select(col("c"),
        round(log(col("docs_c").cast("double") / col("n_train").cast("double")), 6)
          .cast("decimal(18,6)").as("logprior"))

    val testTok = test.select(col("doc_id"), col("lang"), explode(col("ws")).as("w"))
    val scores = testTok.join(lik, Seq("w")) // unseen words drop in BOTH engines
      .groupBy(col("doc_id"), col("lang"), col("c"))
      .agg(sum(col("loglik")).as("sumlik"))
      .join(prior, Seq("c"))
      .withColumn("score", col("sumlik") + col("logprior"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))
    scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("lang"), col("c").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("pred_lang"), col("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val nbClassifierSql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |train AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
      |test AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
      |train_tok AS (SELECT lang AS c, unnest(ws) AS w FROM train),
      |class_tok AS (SELECT c, count(*) AS tok_c FROM train_tok GROUP BY 1),
      |wc AS (SELECT c, w, count(*) AS cnt FROM train_tok GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT w FROM train_tok),
      |vocab_n AS (SELECT count(*) AS v FROM vocab),
      |classes AS (SELECT lang AS c, count(*) AS docs_c FROM train GROUP BY 1),
      |total_n AS (SELECT count(*) AS n_train FROM train),
      |lik AS (
      |  SELECT vocab.w, classes.c,
      |    CAST(round(ln(CAST(coalesce(wc.cnt, 0) + 1 AS DOUBLE) /
      |      CAST(class_tok.tok_c + vocab_n.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS loglik
      |  FROM vocab CROSS JOIN classes
      |  LEFT JOIN wc ON wc.w = vocab.w AND wc.c = classes.c
      |  JOIN class_tok ON class_tok.c = classes.c
      |  CROSS JOIN vocab_n),
      |prior AS (
      |  SELECT c, CAST(round(ln(CAST(docs_c AS DOUBLE) / CAST(n_train AS DOUBLE)), 6)
      |    AS DECIMAL(18,6)) AS logprior
      |  FROM classes CROSS JOIN total_n),
      |test_tok AS (SELECT doc_id, lang, unnest(ws) AS w FROM test),
      |scores AS (
      |  SELECT t.doc_id, t.lang, l.c, sum(l.loglik) + any_value(p.logprior) AS score
      |  FROM test_tok t JOIN lik l ON l.w = t.w JOIN prior p ON p.c = l.c
      |  GROUP BY t.doc_id, t.lang, l.c),
      |pred AS (
      |  SELECT doc_id, lang, c AS pred_lang FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, c) AS rk FROM scores)
      |  WHERE rk = 1)
      |SELECT lang, pred_lang, count(*) AS n
      |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Inverted-index construction (the search/retrieval-side operator
    * beside tf-idf's ranking side): term → document frequency + a
    * BOUNDED posting list (first 50 doc_ids ascending — production
    * posting lists are sharded/skip-listed, never materialized whole;
    * df keeps the true count). One explode + distinct + groupBy(term):
    * the shuffle key is the term, and the posting list builds through
    * the bounded `BottomKByPriority` aggregate (priority = doc_id), so
    * agg state is ≤ 50 ids per term even for a stopword whose full
    * list would be corpus-sized — a collect_list-then-slice would
    * materialize that whole list in the reducer first. A 100 TB build
    * would additionally bucket the output by `hash(term)` so
    * query-time lookups are pruned scans. Deterministic ⇒ fully
    * oracle-checked. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val posts = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    posts.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(graft.functions.BottomKByPriority
          .bottomK(col("doc_id"), col("doc_id"), 50)
          .cast("array<string>"), ",").as("postings"))
      .orderBy(col("term"))
  }

  val invertedIndexSql: String =
    """WITH p AS (
      | SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      | FROM documents)
      |SELECT term, count(*) AS df,
      | array_to_string(list_transform((list(doc_id ORDER BY doc_id))[1:50],
      |   x -> cast(x AS varchar)), ',') AS postings
      |FROM p WHERE term <> '' GROUP BY term ORDER BY term""".stripMargin

  /** Conjunctive terms of the lookup entry — common corpus-generator
    * vocabulary (df ≈ 0.8 · corpus each), so the intersection is a
    * real narrowing and stable at every SF. */
  val lookupTerms: Seq[String] = Seq("stream", "filter", "merge")

  // JVM-unique postings-table name (same catalog-leak discipline as
  // FileSources' bucketed tables)
  private val idxSuffix = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
  private def postingsTbl = s"graft_postings_$idxSuffix"

  /** Materialize the QUERY-grade postings table: (term, doc_id) rows
    * BUCKETED by term — the layout where an equality/IN term filter
    * prunes to matching buckets at plan time (no shuffle, no full-index
    * scan). Memoized per JVM: an index is built once, queried many. */
  private[operators] def postingsTable(spark: SparkSession, dir: String): DataFrame = {
    // a search index's reader ALWAYS wants the bucketed scan: the
    // planner's DisableUnnecessaryBucketedScan demotes it when no
    // join/agg needs the distribution, which would also discard the
    // plan-time bucket PRUNING the term filter exists to exploit —
    // turn the demotion off for THIS session on EVERY call, not just
    // at build time: the table is memoized per JVM through the SHARED
    // catalog, so a session that finds it already built (r17: the
    // plan-gate's isolated session built it first) must still get the
    // conf or its reads silently lose the pruning
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    if (!spark.catalog.tableExists(postingsTbl)) {
      t(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(8, "term").sortBy("term")
        .saveAsTable(postingsTbl)
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(postingsTbl))
      graft.util.registerShutdownDelete(new java.io.File(meta.location).getAbsolutePath)
    }
    spark.table(postingsTbl)
  }

  /** Inverted-index QUERY path — the lookup `text_inverted_index`'s
    * build side exists for: find every document containing ALL of
    * [[lookupTerms]] by posting-list intersection, WITHOUT touching
    * the documents table. The plan is: bucket-pruned scan of the
    * postings table (term IN (...) selects 3 of 8 buckets at plan
    * time), then a doc_id-keyed count — a doc survives iff it matched
    * every queried term (postings are (doc, term)-distinct, so the
    * count IS the matched-term count; the classic merge-join posting
    * intersection, expressed as one hash agg). Work is
    * Σ df(term) — postings-linear in the QUERIED terms only, never
    * corpus-linear: at 100 TB the query cost tracks the posting lists
    * it reads, exactly like a search engine. The DuckDB oracle is the
    * filtered scan the index replaces (split text, require every
    * term) — hash-match proves the index path loses and invents
    * nothing; the no-documents-scan property is plan-spec-asserted. */
  def indexLookup(spark: SparkSession, dir: String): DataFrame =
    indexLookupPlan(postingsTable(spark, dir))

  /** The lookup over an existing postings table (exposed so the plan
    * spec can assert document-table independence directly). */
  private[graft] def indexLookupPlan(postings: DataFrame): DataFrame =
    postings
      .filter(col("term").isin(lookupTerms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === lookupTerms.size.toLong)
      .select(col("doc_id"), col("n_matched"))
      .orderBy(col("doc_id"))

  val indexLookupSql: String = {
    val conds = lookupTerms
      .map(t0 => s"list_contains(string_split(text, ' '), '$t0')")
      .mkString(" AND ")
    s"""SELECT doc_id, cast(${lookupTerms.size} as bigint) AS n_matched
       |FROM documents WHERE $conds ORDER BY doc_id""".stripMargin
  }

  /** Greedy left-to-right merge of one (a, b) pair over a segment
    * array, as a pure Catalyst HOF fold (no UDF): scan state is
    * (out, justMerged); an element equal to `b` fuses with a trailing
    * `a` unless that `a` was itself produced by the immediately
    * preceding fuse — exactly the `i += 2` of the sequential scan.
    * `get()` (null on out-of-bounds) keeps the empty-prefix probe safe
    * under ANSI mode, where `element_at(-1)` on an empty array throws. */
  private def bpeMergeFold(a: String, b: String): org.apache.spark.sql.Column = {
    val init = struct(typedLit(Seq.empty[String]).as("out"), lit(false).as("jm"))
    aggregate(col("segs"), init,
      (st, x) => {
        val canMerge = !st("jm") &&
          get(st("out"), size(st("out")) - 1) === lit(a) && (x === lit(b))
        when(canMerge, struct(
          concat(slice(st("out"), lit(1), size(st("out")) - 1), array(lit(a + b))).as("out"),
          lit(true).as("jm")))
          .otherwise(struct(
            concat(st("out"), array(x)).as("out"), lit(false).as("jm")))
      },
      st => st("out"))
  }

  /** Distributed BPE training state: the (word, freq, segs) table after
    * `rounds` merges, plus the merge table itself. BPE trains on the
    * WORD-FREQUENCY table, not the corpus: one corpus-linear pass
    * builds (word, freq), and every round after that is vocabulary-
    * sized — at 100 TB the corpus is read once and the iteration runs
    * over ~10M rows however big the input was. Each round is (1) an
    * adjacent-pair count weighted by freq — a vocabulary-sized explode
    * + groupBy, overlapping occurrences counted like HF/sentencepiece
    * do; (2) an argmax with deterministic (count desc, pair asc)
    * tie-break, the only driver materialization (ONE row per round);
    * (3) a pure-HOF greedy rewrite of every segmentation; checkpointed
    * per round so 16 rounds don't stack 16 fold plans. */
  private[operators] def bpeTrain(spark: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var words = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("segs", expr("filter(split(word, ''), x -> x <> '')"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var r = 0
    var go = true
    while (r < rounds && go) {
      val best = words.filter(size(col("segs")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(segs)-1), i -> struct(element_at(segs, i) AS a, element_at(segs, i+1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < 2) go = false
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r + 1, a, b, a + b, cnt))
        words = words.withColumn("segs", bpeMergeFold(a, b)).localCheckpoint(true)
        r += 1
      }
    }
    (merges.toSeq, words)
  }

  /** BPE (byte-pair encoding) vocabulary induction — the tokenizer-
    * training operator of an LLM data pipeline, run distributed (see
    * [[bpeTrain]]). Output is the learned merge table (rank, left,
    * right, merged, weighted pair count). Deterministic (fixed
    * tie-break, no RNG) — and, since round 14, fully DuckDB-replayed:
    * see [[bpeCtes]] for how the 16 dependent argmax rounds unroll. */
  /** Trained-tokenizer artifacts (merge table + final word
    * segmentations), built once per documents fingerprint in the
    * cross-JVM cache — the production tokenizer lifecycle:
    * train once, apply everywhere. The 16 driver-roundtrip training
    * rounds run in the build, not per entry execution. */
  private def bpeRoot(spark: SparkSession, dir: String): String =
    artifactRoot(s"bpe-${tableFingerprint(dir, "documents")}") { staged =>
      val (merges, words) = bpeTrain(spark, dir, 16)
      import spark.implicits._
      merges.toDF("rank", "left", "right", "merged", "pair_count")
        .coalesce(1).write.parquet(s"$staged/merges")
      words.write.parquet(s"$staged/words")
    }

  def bpeTrainTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${bpeRoot(spark, dir)}/merges").orderBy(col("rank"))

  /** The DuckDB replay of [[bpeTrain]] — 16 dependent argmax rounds
    * UNROLLED as a chained-CTE training loop, which makes both BPE
    * entries hash-checked (they were the canonical "not
    * SQL-expressible ⇒ rows-only" pair since round 7).
    *
    * Two ideas make the unroll exact:
    *
    * 1. Segmentation state per word is a STRING with every token
    *    bracketed by `|` (`regexp_replace(word,'(.)','|\1|','g')` →
    *    `cat` = `|c||a||t|`). The greedy left-to-right merge with the
    *    justMerged `i += 2` rule ([[bpeMergeFold]]) is then EXACTLY
    *    one `replace(s, '|a||b|', '|ab|')`: SQL replace scans left to
    *    right and resumes AFTER each replacement, so a token produced
    *    by a merge can never be the left element of another merge in
    *    the same round — and because each token carries its own
    *    brackets, consuming a match never eats the neighbor's
    *    delimiter (the naive single-delimiter encoding fails exactly
    *    there: `;a;a;a;` → one merge instead of `aaaa` → two). The
    *    corpus alphabet is `[a-y ]` (spec-asserted), so `|` can never
    *    collide with token bytes.
    * 2. Every CTE is `AS MATERIALIZED`: round r's state is referenced
    *    twice (pair count r+1 AND rewrite r+1), so inlined CTEs
    *    re-derive the whole chain per reference — 2^16 scans. The
    *    materialization barrier is the SQL twin of the per-round
    *    `localCheckpoint` in [[bpeTrain]], for the same reason.
    *
    * Each round is: adjacent-pair count from the split state
    * (overlapping occurrences counted, like the engine's transform
    * over i=1..n-1), argmax under the engine's (cnt desc, a, b) total
    * order guarded by the cnt >= 2 stop rule (an empty argmax leaves
    * the state unchanged via coalesce — NULL pattern propagates
    * through replace), then the bracket-encoded rewrite. Validated
    * merge-for-merge against the sequential referee at sf0.001/0.01/
    * 0.1 (16 full rounds at each). */
  private def bpeCtes(rounds: Int): String = {
    val w0 =
      """w0 AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS freq,
        |         regexp_replace(word, '(.)', 'QBARQ\1QBARQ', 'g') AS s
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word)""".stripMargin
        .replace("QBARQ", "|")
    val rest = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
  SELECT toks[i] AS a, toks[i+1] AS b, sum(freq)::BIGINT AS cnt
  FROM (SELECT freq, string_split(s[2:len(s)-1], '||') AS toks FROM w${r - 1}),
       unnest(generate_series(1, len(toks)-1)) AS t(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2),
b$r AS MATERIALIZED (
  SELECT a, b, cnt FROM p$r WHERE cnt >= 2
  ORDER BY cnt DESC, a, b LIMIT 1),
w$r AS MATERIALIZED (
  SELECT word, freq,
    coalesce(replace(s,
      '|' || (SELECT a FROM b$r) || '||' || (SELECT b FROM b$r) || '|',
      '|' || (SELECT a FROM b$r) || (SELECT b FROM b$r) || '|'), s) AS s
  FROM w${r - 1})"""
    }
    (w0 +: rest).mkString(",\n")
  }

  private val bpeRounds = 16

  val bpeTrainSql: String = {
    val union = (1 to bpeRounds).map(r =>
      s"""SELECT $r AS "rank", a AS "left", b AS "right", a||b AS merged, cnt AS pair_count FROM b$r""")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCtes(bpeRounds)}\nSELECT * FROM ($union) ORDER BY \"rank\""
  }

  val bpeTokensSql: String =
    s"""WITH ${bpeCtes(bpeRounds)}
SELECT d.doc_id, count(*)::BIGINT AS n_words,
       sum(len(string_split(w.s[2:len(w.s)-1], '||')))::BIGINT AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
JOIN w$bpeRounds w USING (word) WHERE d.word <> ''
GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** BPE application over the training corpus: after training, the
    * word table's final segmentations ARE the tokenization of every
    * corpus word, so applying the tokenizer is a broadcast-sized
    * equi-join (word → token count) — no per-row merge loop at read
    * time. Per-doc whitespace-token vs BPE-token counts: the
    * compression curve that picks a vocabulary size. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val words = spark.read.parquet(s"${bpeRoot(spark, dir)}/words")
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(broadcast(words.select(col("word"), size(col("segs")).as("n_bpe"))), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Count-min-sketched term frequencies (`functions/CmsSketch.scala`)
    * — per-source CMS sketches of the word stream materialized ONCE as
    * a 16 KiB-per-source sketch table; any term's frequency in any
    * source (or, via the lossless counter-addition union, the whole
    * corpus) is then answered from the table without rescanning. The
    * probe list includes an absent term: CMS never underestimates
    * (spec-asserted row-by-row) and overestimates only by collisions.
    * Sketch hashing is engine-specific ⇒ rows-only; a sequential
    * in-JVM referee and the never-underestimate / union-lossless
    * properties are spec-asserted. */
  def cmsTermFreq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsSketch._
    import spark.implicits._
    val words = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val skPath = scratchDir("cms_sketches")
    words.groupBy(col("source")).agg(cmsSketch(col("w")).as("sk"))
      .write.parquet(skPath)
    val sk = spark.read.parquet(skPath)
    val probes = Seq("join", "hash", "row", "batch", "scan", "filter", "quantum")
    val probeDf = probes.toDF("term")
    val perSource = sk.crossJoin(broadcast(probeDf))
      .select(col("source"), col("term"), cmsEstimate(col("sk"), col("term")).as("est"))
    val overall = sk.agg(cmsUnion(col("sk")).as("sk"))
      .crossJoin(broadcast(probeDf))
      .select(lit("ALL").as("source"), col("term"),
        cmsEstimate(col("sk"), col("term")).as("est"))
    val exactSrc = words.filter(col("w").isin(probes: _*))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("exact"))
      .select(col("source"), col("w").as("term"), col("exact"))
    val exactAll = words.filter(col("w").isin(probes: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("exact"))
      .select(lit("ALL").as("source"), col("w").as("term"), col("exact"))
    // estimate-sidecar discipline: the CMS binary is engine-side but
    // every probe estimate is deterministic given the build — dump
    // (source, term, est) and let DuckDB recompute the exact counts
    // from documents and join the estimates ⇒ hash-green.
    oracleSidecar("cms_estimates", perSource.unionAll(overall))
    perSource.unionAll(overall)
      .join(exactSrc.unionAll(exactAll), Seq("source", "term"), "left")
      .select(col("source"), col("term"), col("est"),
        coalesce(col("exact"), lit(0L)).as("exact"))
      .orderBy(col("source"), col("term"))
  }

  /** Exact probe-term counts recomputed by DuckDB over the same word
    * split; CMS estimates joined from the sidecar. */
  val cmsTermFreqSql: String = {
    val probeList = Seq("join", "hash", "row", "batch", "scan", "filter", "quantum")
      .map("'" + _ + "'").mkString(", ")
    s"""WITH est AS (
       | SELECT source, term, est
       | FROM read_parquet('${oracleSidecarGlob("cms_estimates")}')),
       |w2 AS (
       | SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |words AS (SELECT source, w FROM w2 WHERE w <> ''),
       |exs AS (
       | SELECT source, w AS term, count(*) AS exact
       | FROM words WHERE w IN ($probeList) GROUP BY 1, 2
       | UNION ALL
       | SELECT 'ALL', w, count(*)
       | FROM words WHERE w IN ($probeList) GROUP BY 2)
       |SELECT e.source, e.term, e.est,
       | cast(coalesce(x.exact, 0) as bigint) AS exact
       |FROM est e LEFT JOIN exs x
       | ON x.source = e.source AND x.term = e.term
       |ORDER BY e.source, e.term""".stripMargin
  }

  /** Deterministic shard plan — the LAST operator of every training-
    * data pipeline: assign each document a shard via a pure
    * multiplicative hash (Knuth 2654435761 mod a prime mod nShards —
    * replayable by ANY engine, unlike engine-private hash functions)
    * and report per-shard doc/token totals. The write path this plans
    * is a single `partitionBy(shard)` pass; balance comes from the
    * hash, not a sort, so there is no global ordering bottleneck and
    * adding data never reshuffles existing shards. Balance is
    * spec-asserted (max/min ≤ 1.3 on the fixture); fully
    * oracle-checked because the hash is plain integer arithmetic. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("shard",
        col("doc_id") % lit(1000000007L) * lit(2654435761L) % lit(1000000007L) % lit(8))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  val shardPlanSql: String =
    """SELECT (doc_id % 1000000007) * 2654435761 % 1000000007 % 8 AS shard,
      | count(*) AS n_docs,
      | cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens,
      | min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Context-window chunking with overlap — the LLM-training prep
    * step that slices each document into fixed-size token windows
    * (64 tokens, stride 48 ⇒ 16-token overlap) so no span is lost at
    * a chunk boundary. Expressed as codegen'd array primitives:
    * `sequence` generates the start offsets, `posexplode` fans out
    * one row per window, `slice` + `array_join` cut the window — no
    * UDF, whole row fan-out stays inside WholeStageCodegen.
    *
    * Scale design: per-row work is token-linear and the explode is a
    * map-side fan-out (≈ len/stride rows per doc, no shuffle at all
    * until the final presentation sort — which a pipeline consumer
    * would drop, making the whole operator shuffle-free). Window
    * boundaries depend only on the document itself, so chunking is
    * embarrassingly parallel at any SF; downstream packing to model
    * context length is `text_pack_sequences`. Exact strings + integral
    * offsets ⇒ fully oracle-checked. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(48))),
        col("toks"))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(slice(col("toks"), col("col") + 1, lit(64))).cast("long").as("n_tokens"),
        array_join(slice(col("toks"), col("col") + 1, lit(64)), " ").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkOverlapSql: String =
    """WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS start FROM d)
      |SELECT doc_id,
      | CAST(start // 48 AS BIGINT) AS chunk_id,
      | CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS n_tokens,
      | array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  /** Top-`vocabEncodeSize` tokens by (freq desc, token asc) — the
    * total order makes the cutoff deterministic. */
  val vocabEncodeSize = 16

  /** Vocabulary encode — the tokenize-to-ids step of a training
    * pipeline: build a frequency-ranked vocab (id 1..V, most frequent
    * first, ties lexicographic), then encode the corpus against it and
    * report per-doc coverage (known/OOV counts) plus an exact integer
    * checksum over the assigned ids. Plan shape: one token scan feeds
    * the vocab aggregate (map-side partial, V rows out), the vocab
    * BROADCASTS back onto the token stream (a 100k-term vocab is still
    * kilobytes-per-executor at 100 TB — the dictionary never
    * shuffles the corpus), and the per-doc rollup reuses the doc_id
    * grouping. OOV tokens take id NULL → counted, excluded from the
    * checksum — exactly what a sentencepiece-style byte-fallback would
    * see as its fallback rate. */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = DistRank.withRowNumber(
        toks.groupBy(col("w")).agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), col("w")).limit(vocabEncodeSize),
        Seq(desc("freq"), col("w")), "id")
      .withColumn("id", col("id").cast("int"))
      .select(col("w"), col("id"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNotNull, 1L).otherwise(0L)).cast("long").as("n_known"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"),
        coalesce(sum(col("id")), lit(0L)).cast("long").as("ids_sum"))
      .orderBy(col("doc_id"))
  }

  val vocabEncodeSql: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |vocab AS (
       | SELECT w, count(*) AS freq FROM toks GROUP BY w
       | ORDER BY freq DESC, w LIMIT $vocabEncodeSize),
       |vid AS (SELECT w, row_number() OVER (ORDER BY freq DESC, w) AS id
       |        FROM vocab)
       |SELECT t.doc_id, cast(count(*) as bigint) AS n_tokens,
       | cast(sum(CASE WHEN v.id IS NOT NULL THEN 1 ELSE 0 END) as bigint)
       |   AS n_known,
       | cast(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) as bigint)
       |   AS n_oov,
       | cast(coalesce(sum(v.id), 0) as bigint) AS ids_sum
       |FROM toks t LEFT JOIN vid v USING (w)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** Kneser-Ney smoothed bigram language model, trained AS TABLES —
    * the standard n-gram smoothing (Kneser & Ney 1995 / Chen &
    * Goodman 1999) beside the add-k model `text_perplexity` carries:
    * P(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T,
    * where N1+(w1·) counts distinct continuations of w1, N1+(·w2)
    * distinct histories of w2 (the "novel-context" count that makes KN
    * beat raw frequency), and T is the distinct-bigram total. With the
    * textbook discount D = 0.75 = 3/4 every term is RATIONAL, so the
    * probability is computed entirely in integer micro-units —
    * max(4·c12 − 3, 0)·10⁶ div (4·c1) plus the nested continuation
    * term — and both engines agree bit-for-bit: a fully oracle-checked
    * smoothed LM, no float anywhere. Training is three counting
    * aggregates over the bigram relation (corpus-linear, one shuffle
    * each, partial-aggregated); the emitted table is the top-50 by
    * count — the model itself stays distributed, exactly how a 100 TB
    * KenLM-style count pipeline materializes. */
  def knBigramTable(spark: SparkSession, dir: String): DataFrame =
    knBigramFull(spark, dir)
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .limit(50)

  /** The full (un-truncated) KN table — the spec sums P(·|w1) over it. */
  private[graft] def knBigramFull(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .withColumn("b", explode(expr(
        "transform(sequence(1, size(ws)-1), i -> struct(element_at(ws,i) AS w1, element_at(ws,i+1) AS w2))")))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(true)
    val c12 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val n1fwd = c12.groupBy(col("w1")).agg(count(lit(1)).as("n1_fwd"))
    val n1bwd = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1_bwd"))
    val t12 = c12.agg(count(lit(1)).as("t"))
    c12.join(c1, Seq("w1")).join(n1fwd, Seq("w1")).join(n1bwd, Seq("w2"))
      .crossJoin(broadcast(t12))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1_fwd"), col("n1_bwd"),
        (expr("(greatest(4 * c12 - 3, 0) * 1000000) div (4 * c1)") +
          expr("((3 * n1_fwd * 1000000) div (4 * c1) * n1_bwd) div t"))
          .cast("long").as("p_micro"))
  }

  /** Shared CTE body producing the full KN table (w1, w2, counts,
    * p_micro) — consumed by [[knBigramSql]] and [[lmDecodeSql]]. */
  private val knSqlCte: String =
    """b AS (
      | SELECT ws[i] AS w1, ws[i + 1] AS w2
      | FROM (SELECT string_split(text, ' ') AS ws FROM documents
      |       WHERE len(string_split(text, ' ')) >= 2),
      |      unnest(range(1, len(ws))) AS u(i)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
      |n1f AS (SELECT w1, count(*) AS n1_fwd FROM c12 GROUP BY w1),
      |n1b AS (SELECT w2, count(*) AS n1_bwd FROM c12 GROUP BY w2),
      |t12 AS (SELECT count(*) AS t FROM c12),
      |kn AS (
      | SELECT w1, w2, c12.c12, c1.c1, n1f.n1_fwd, n1b.n1_bwd,
      |  cast((greatest(4 * c12.c12 - 3, 0) * 1000000) // (4 * c1.c1)
      |   + ((3 * n1f.n1_fwd * 1000000) // (4 * c1.c1) * n1b.n1_bwd) // t
      |   as bigint) AS p_micro
      | FROM c12 JOIN c1 USING (w1) JOIN n1f USING (w1) JOIN n1b USING (w2)
      | CROSS JOIN t12)""".stripMargin

  val knBigramSql: String =
    s"""WITH $knSqlCte
       |SELECT w1, w2, c12, c1, n1_fwd, n1_bwd, p_micro FROM kn
       |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin

  /** Steps of greedy LM decoding in [[lmDecode]]. */
  val lmDecodeSteps = 12

  /** Greedy decoding FROM the trained Kneser-Ney table — generation as
    * a relational argmax chain: seed with the corpus's most frequent
    * token, then repeatedly take argmax_w2 P(w2|w1) (ties broken
    * lexicographic) for [[lmDecodeSteps]] steps, stopping early at a
    * dead end (a token never observed as a bigram head). Each step is
    * a top-1 query against the DISTRIBUTED model table (the BPE-argmax
    * discipline: driver sees one row per step, never the model) — at
    * 100 TB the vocab²-bounded LM table stays sharded and generation
    * costs steps × an index-backed top-1 lookup. The oracle replays
    * the FULL chain: the same KN CTE plus one unrolled argmax CTE per
    * step — deterministic integer micro-unit probabilities make greedy
    * decoding an exactly-replayable query. */
  def lmDecode(spark: SparkSession, dir: String): DataFrame = {
    val kn = knBigramFull(spark, dir)
      .select(col("w1"), col("w2"), col("p_micro")).localCheckpoint(true)
    val seed = t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), col("w")).limit(1)
      .collect()(0).getString(0)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]((0L, seed, 0L))
    var cur: String = seed
    var step = 1
    while (cur != null && step <= lmDecodeSteps) {
      val nxt = kn.filter(col("w1") === cur)
        .orderBy(desc("p_micro"), col("w2")).limit(1).collect()
      if (nxt.isEmpty) cur = null
      else {
        cur = nxt(0).getString(1)
        out += ((step.toLong, cur, nxt(0).getLong(2)))
        step += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("step", "token", "p_micro").orderBy(col("step"))
  }

  val lmDecodeSql: String = {
    val stepCtes = (1 to lmDecodeSteps).map(k =>
      s"s$k AS (SELECT w2 AS w, p_micro FROM kn WHERE w1 = (SELECT w FROM s${k - 1}) ORDER BY p_micro DESC, w2 LIMIT 1)")
      .mkString(",\n")
    val stepSelects = (1 to lmDecodeSteps).map(k =>
      s"SELECT cast($k as bigint) AS step, w AS token, p_micro FROM s$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $knSqlCte,
       |s0 AS (
       | SELECT w, cast(0 as bigint) AS p_micro FROM (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       | GROUP BY w ORDER BY count(*) DESC, w LIMIT 1),
       |$stepCtes
       |SELECT * FROM (
       | SELECT cast(0 as bigint) AS step, w AS token, p_micro FROM s0
       | UNION ALL
       |$stepSelects
       |) ORDER BY step""".stripMargin
  }

  /** PMI collocation mining (Church & Hanks, CL'90) — the classic
    * "strongly associated word pairs" extraction feeding phrase
    * detection and tokenizer vocab curation: adjacent-bigram counts
    * against unigram marginals, ranked by pointwise mutual information.
    * PMI = log(c_xy·N / (c_x·c_y)) is a MONOTONE transform of the
    * lift ratio, so the ranking (and the reported score) uses exact
    * integer lift micro-units — `c_xy·N·10⁶ div (c_x·c_y)` — and the
    * whole top-50 replays bit-identically in DuckDB with no log in
    * sight (fits int64: tokens ≲ 10⁸ × counts ≲ 10⁵ × 10⁶ needs the
    * count cap the min-support filter provides; at web scale promote
    * the one multiply to decimal(38)). The c_xy ≥ 5 support floor is
    * the standard sparse-PMI guard. Plan shape: one explode pass
    * feeds both the bigram and unigram aggregates, the marginal
    * rejoin keys on single words (vocabulary-sized, broadcastable),
    * and only the answer-sized top-50 crosses the final sort. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
    val toks = docs.select(explode(col("ws")).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val total = toks.agg(count(lit(1)).as("n_tok"))
    val pairs = docs.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws)-1), i -> named_struct(" +
          "'w1', element_at(ws, i), 'w2', element_at(ws, i+1)))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("cx"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("cy"))), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        col("cxy").cast("long").as("cxy"),
        col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"),
        expr("(cxy * n_tok * 1000000) div (cx * cy)").cast("long")
          .as("lift_micro"))
      .orderBy(desc("lift_micro"), col("w1"), col("w2"))
      .limit(50)
  }

  val pmiCollocationsSql: String =
    """WITH docs AS (
      | SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |toks AS (SELECT unnest(ws) AS w FROM docs),
      |uni AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
      |tot AS (SELECT count(*) AS n_tok FROM toks),
      |pairs AS (
      | SELECT w1, w2, count(*) AS cxy FROM (
      |  SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
      |  FROM docs WHERE len(ws) >= 2)
      | GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT w1, w2, cast(cxy as bigint) AS cxy,
      | cast(ux.cw as bigint) AS cx, cast(uy.cw as bigint) AS cy,
      | cast((cxy * n_tok * 1000000) // (ux.cw * uy.cw) as bigint)
      |   AS lift_micro
      |FROM pairs JOIN uni ux ON pairs.w1 = ux.w
      | JOIN uni uy ON pairs.w2 = uy.w CROSS JOIN tot
      |ORDER BY lift_micro DESC, w1, w2 LIMIT 50""".stripMargin

  /** Flesch–Kincaid readability grading in exact integer micro-units —
    * the classic complexity score every data-quality pipeline keeps
    * beside [[qualityScore]]'s surface ratios: grade = 0.39·(words/
    * sentence) + 11.8·(syllables/word) − 15.59. Syllables are the
    * standard vowel-group heuristic (runs of [aeiouy] per word — the
    * regex class is identical under Java and RE2 semantics, so both
    * engines count the same); sentences are a FIXED 12-token
    * segmentation because this corpus carries no punctuation (swap in
    * `[.!?]+` splitting on real text — the arithmetic downstream is
    * unchanged). Both ratios and the affine combination stay on the
    * integer micro grid (`·10⁶ div`), so per-doc grades replay
    * bit-identically in DuckDB. One explode pass, per-doc rollup,
    * scan-speed at any scale. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("syl",
        greatest(size(regexp_extract_all(col("w"), lit("[aeiouy]+"), lit(0))), lit(1)))
    toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("syl")).as("n_syll"))
      .withColumn("n_sentences", expr("(n_words + 11) div 12"))
      .withColumn("wps_micro", expr("(n_words * 1000000) div n_sentences"))
      .withColumn("spw_micro", expr("(n_syll * 1000000) div n_words"))
      .withColumn("fk_micro",
        expr("(39 * wps_micro) div 100 + (118 * spw_micro) div 10 - 15590000"))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("n_syll").cast("long").as("n_syll"),
        col("n_sentences").cast("long").as("n_sentences"),
        col("fk_micro").cast("long").as("fk_micro"),
        when(col("fk_micro") <= 6000000, lit("easy"))
          .when(col("fk_micro") <= 10000000, lit("medium"))
          .otherwise(lit("hard")).as("band"))
      .orderBy(col("doc_id"))
  }

  val readabilitySql: String =
    """WITH toks AS (
      | SELECT doc_id, greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1) AS syl
      | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
      |agg AS (
      | SELECT doc_id, count(*) AS n_words, sum(syl) AS n_syll,
      |  (count(*) + 11) // 12 AS n_sentences
      | FROM toks GROUP BY doc_id),
      |scored AS (
      | SELECT *, (n_words * 1000000) // n_sentences AS wps_micro,
      |  (n_syll * 1000000) // n_words AS spw_micro
      | FROM agg)
      |SELECT doc_id, cast(n_words as bigint) AS n_words,
      | cast(n_syll as bigint) AS n_syll,
      | cast(n_sentences as bigint) AS n_sentences,
      | cast((39 * wps_micro) // 100 + (118 * spw_micro) // 10 - 15590000
      |   as bigint) AS fk_micro,
      | CASE WHEN (39 * wps_micro) // 100 + (118 * spw_micro) // 10 - 15590000
      |        <= 6000000 THEN 'easy'
      |      WHEN (39 * wps_micro) // 100 + (118 * spw_micro) // 10 - 15590000
      |        <= 10000000 THEN 'medium'
      |      ELSE 'hard' END AS band
      |FROM scored ORDER BY doc_id""".stripMargin

  /** Feature hashing (the "hashing trick", Weinberger et al.,
    * ICML'09) — fixed-width bag-of-words features with no vocabulary
    * coordination: token → bucket `xxhash64 mod 128`, so a new shard
    * needs no vocab merge, the curse of the explicit `text_vocab_
    * encode` path at fleet scale. The hash is engine-specific, so the
    * token→bucket MAP rides the oracle sidecar (the text_fingerprint
    * discipline) and every relational consequence — per-doc nnz, L1
    * mass, argmax bucket, and the corpus collision profile the
    * 128-way width implies — is hash-checked in DuckDB. One explode +
    * one broadcast map join + per-doc aggregate: scan-speed, no
    * vocab shuffle anywhere. */
  def hashingTrick(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocabMap = toks.select(col("w")).distinct()
      .withColumn("bucket", pmod(xxhash64(col("w")), lit(128L)))
    oracleSidecar("hashing_vocab", vocabMap)
    val perBucket = toks.join(broadcast(vocabMap), Seq("w"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    perBucket.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("nnz"),
        sum(col("c")).cast("long").as("l1"),
        max_by(col("bucket"), struct(col("c"), -col("bucket")))
          .cast("long").as("top_bucket"),
        max(col("c")).cast("long").as("top_count"))
      .orderBy(col("doc_id"))
  }

  val hashingTrickSql: String =
    s"""WITH vocab AS (
       | SELECT w, bucket FROM read_parquet('${oracleSidecarGlob("hashing_vocab")}')),
       |toks AS (
       | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |per_bucket AS (
       | SELECT doc_id, bucket, count(*) AS c
       | FROM toks JOIN vocab USING (w) GROUP BY 1, 2),
       |ranked AS (
       | SELECT *, row_number() OVER (PARTITION BY doc_id
       |   ORDER BY c DESC, bucket) AS rn FROM per_bucket),
       |agg AS (
       | SELECT doc_id, cast(count(*) as bigint) AS nnz,
       |  cast(sum(c) as bigint) AS l1, cast(max(c) as bigint) AS top_count
       | FROM per_bucket GROUP BY doc_id)
       |SELECT a.doc_id, a.nnz, a.l1, cast(r.bucket as bigint) AS top_bucket,
       | a.top_count
       |FROM agg a JOIN ranked r ON a.doc_id = r.doc_id AND r.rn = 1
       |ORDER BY a.doc_id""".stripMargin

  /** RAKE keyword extraction (Rose et al., 2010) — unsupervised
    * multi-word keyword mining: the corpus' 20 most frequent tokens
    * act as the delimiter set (a DATA-DERIVED stopword list — no
    * external lexicon), token runs between delimiters become
    * candidate phrases (kept at 2–4 words), each word scores
    * deg/freq over the phrase corpus (deg = Σ length of phrases it
    * appears in — co-occurrence reach; freq = occurrences), and a
    * phrase scores the sum of its word scores. All ratios are integer
    * micro divisions, phrase assembly is position-ordered string
    * aggregation, and the top-25 ranking replays bit-identically in
    * DuckDB. Plan: one positional explode, delimiter islands via one
    * cumulative window, word stats on the phrase-token table
    * (vocabulary-sized rejoin), answer-sized top-k. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "w")
    val stops = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("w")).limit(20).select(col("w"))
      .withColumn("isStop", lit(1))
    val marked = toks.join(broadcast(stops), Seq("w"), "left")
      .withColumn("seg", sum(coalesce(col("isStop"), lit(0))).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("isStop").isNull)
    val phrases = marked.groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("len"),
        concat_ws(" ", expr("transform(sort_array(collect_list(" +
          "struct(pos, w))), x -> x.w)")).as("phrase"))
      .filter(col("len") >= 2 && col("len") <= 4)
    // localCheckpoint: the phrase-token table feeds BOTH the word
    // stats and the final phrase scoring — without the barrier the
    // tokens ⋈ phrases join executes twice per run (the r12
    // double-execution class, caught by the Round13Spec plan gate).
    // The relation is phrase-token-sized (≤ 4 rows per phrase).
    val phraseToks = marked.join(
      phrases.select(col("doc_id"), col("seg"), col("len"), col("phrase")),
      Seq("doc_id", "seg"))
      .localCheckpoint(true)
    val wstats = phraseToks.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("wscore", expr("(deg * 1000000) div freq"))
    phraseToks.join(broadcast(wstats.select(col("w"), col("wscore"))), Seq("w"))
      .groupBy(col("doc_id"), col("seg"), col("phrase"))
      .agg(sum(col("wscore")).as("pscore"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"),
        max(col("pscore")).cast("long").as("score_micro"))
      .orderBy(desc("score_micro"), col("phrase"))
      .limit(25)
  }

  val rakeKeywordsSql: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w
      | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |stops AS (
      | SELECT w FROM (SELECT w, count(*) AS cnt FROM toks GROUP BY w)
      | ORDER BY cnt DESC, w LIMIT 20),
      |marked AS (
      | SELECT t.doc_id, t.pos, t.w, s.w IS NOT NULL AS isStop,
      |  sum(CASE WHEN s.w IS NOT NULL THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY t.doc_id ORDER BY t.pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      | FROM toks t LEFT JOIN stops s ON t.w = s.w),
      |content AS (SELECT * FROM marked WHERE NOT isStop),
      |phrases AS (
      | SELECT doc_id, seg, count(*) AS len,
      |  string_agg(w, ' ' ORDER BY pos) AS phrase
      | FROM content GROUP BY 1, 2
      | HAVING count(*) BETWEEN 2 AND 4),
      |ptoks AS (
      | SELECT c.w, p.doc_id, p.seg, p.len, p.phrase
      | FROM content c JOIN phrases p USING (doc_id, seg)),
      |wstats AS (
      | SELECT w, (sum(len) * 1000000) // count(*) AS wscore
      | FROM ptoks GROUP BY w),
      |scored AS (
      | SELECT pt.doc_id, pt.seg, pt.phrase, sum(ws.wscore) AS pscore
      | FROM ptoks pt JOIN wstats ws USING (w)
      | GROUP BY 1, 2, 3)
      |SELECT phrase, cast(count(*) as bigint) AS n_occurrences,
      | cast(max(pscore) as bigint) AS score_micro
      |FROM scored GROUP BY phrase
      |ORDER BY score_micro DESC, phrase LIMIT 25""".stripMargin

  /** TextRank keyword ranking (Mihalcea & Tarau, EMNLP'04) — the
    * GRAPH-based counterpart to [[rakeKeywords]]' frequency scores:
    * words vote for each other through weighted co-occurrence edges
    * (distance ≤ 2 within a document, weights = corpus pair counts,
    * min weight 3), ranked by five weighted-PageRank supersteps in
    * the SAME exact integer micro arithmetic as `graph_pagerank`
    * (contribution = r·w div strength, damping 85/100 — every
    * superstep replays bit-identically in DuckDB as unrolled CTEs).
    * Edge building is one banded self-join per doc position table;
    * supersteps are vocabulary-sized joins. RAKE rewards words in
    * long phrases; TextRank rewards words CENTRAL to the
    * co-occurrence topology — running both is how keyword ensembles
    * are actually built. */
  def textrankKeywords(spark: SparkSession, dir: String): DataFrame = {
    // adjacent pairs at offsets 1 and 2 via shifted slices (the PMI
    // extraction) — LINEAR in document length, where a positional
    // self-join with a band filter is quadratic per document
    // (measured: 9.6 s → the join shape below at sf0.1)
    val docs = t(spark, dir, "documents")
      .withColumn("ws", split(col("text"), " "))
    def shifted(d: Int) = docs.filter(size(col("ws")) > d)
      .select(explode(expr(
        s"transform(sequence(1, size(ws)-$d), i -> named_struct(" +
          s"'w1', element_at(ws, i), 'w2', element_at(ws, i+$d)))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val edges = shifted(1).unionAll(shifted(2))
      .filter(col("w1") =!= col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3)
    val sym = edges.select(col("w1").as("src"), col("w2").as("dst"), col("c"))
      .unionAll(edges.select(col("w2").as("src"), col("w1").as("dst"), col("c")))
      .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("wgt"))
    val strength = sym.groupBy(col("src")).agg(sum(col("wgt")).as("s"))
    // vocabulary-edge-sized and joined by all 5 supersteps: checkpoint
    // once so each superstep's plan is one shallow join + aggregate
    // instead of re-inlining the corpus explode + 3 aggregations
    val g = sym.join(strength, Seq("src")).localCheckpoint(true)
    var ranks = g.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
    for (_ <- 1 to 5) {
      ranks = g.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(r * wgt) div s").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + expr("(85 * sum(contrib)) div 100")).as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    ranks.orderBy(desc("r"), col("node")).limit(20)
      .select(col("node").as("word"), col("r").cast("long").as("rank_micro"))
  }

  val textrankKeywordsSql: String = {
    val steps = (1 to 5).map { i =>
      s"""r$i AS (
         | SELECT g.dst AS node,
         |  CAST(150000 + (85 * SUM((p.r * g.wgt) // g.s)) // 100 AS BIGINT) AS r
         | FROM g JOIN r${i - 1} p ON p.node = g.src
         | GROUP BY g.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH docs AS (
       | SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |raw AS (
       | SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
       | FROM docs WHERE len(ws) > 1
       | UNION ALL
       | SELECT unnest(ws[1:len(ws)-2]), unnest(ws[3:len(ws)])
       | FROM docs WHERE len(ws) > 2),
       |pairs AS (
       | SELECT w1, w2, count(*) AS c FROM raw WHERE w1 <> w2
       | GROUP BY 1, 2 HAVING count(*) >= 3),
       |sym AS (
       | SELECT src, dst, sum(c) AS wgt FROM (
       |  SELECT w1 AS src, w2 AS dst, c FROM pairs
       |  UNION ALL SELECT w2, w1, c FROM pairs)
       | GROUP BY 1, 2),
       |strength AS (SELECT src, sum(wgt) AS s FROM sym GROUP BY 1),
       |g AS (SELECT sym.*, strength.s FROM sym JOIN strength USING (src)),
       |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM g),
       |$steps
       |SELECT node AS word, cast(r as bigint) AS rank_micro
       |FROM r5 ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** VOCABULARY / ZIPF statistics per language — the corpus-health
    * report a tokenizer or LM team reads before training: token and
    * type counts, hapax & dis legomena (frequency-1 and -2 types —
    * Zipf's long tail; hapax share predicts OOV rate and is the
    * Good–Turing mass estimate for unseen types), type–token ratio
    * (lexical diversity), and the head's weight (top-1 type share).
    * Ratios in integer basis points (floor division) — engine-exact.
    * Scale: one (lang, token) frequency aggregation — map-side
    * partial, so the shuffle carries per-partition partial counts,
    * not tokens — then a per-lang rollup of the (already small)
    * frequency table. Nothing is sorted; the max-frequency head falls
    * out of the same rollup. Tokenizer = the whitespace split every
    * text_* entry shares, so DuckDB replays it verbatim. */
  def zipfStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("lang"))
      .agg(sum(col("f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("dis"),
        max(col("f")).as("top1_f"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("hapax"), col("dis"),
        expr("n_types * 10000 div n_tokens").as("ttr_bp"),
        expr("hapax * 10000 div n_types").as("hapax_share_bp"),
        expr("top1_f * 10000 div n_tokens").as("top1_share_bp"))
      .orderBy(col("lang"))

  val zipfStatsSql: String =
    """WITH freq AS (
      | SELECT lang, tok, count(*) AS f
      | FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
      |       FROM documents)
      | GROUP BY lang, tok),
      |roll AS (
      | SELECT lang, cast(sum(f) as bigint) AS n_tokens,
      |  cast(count(*) as bigint) AS n_types,
      |  cast(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) as bigint) AS hapax,
      |  cast(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) as bigint) AS dis,
      |  cast(max(f) as bigint) AS top1_f
      | FROM freq GROUP BY lang)
      |SELECT lang, n_tokens, n_types, hapax, dis,
      | n_types * 10000 // n_tokens AS ttr_bp,
      | hapax * 10000 // n_types AS hapax_share_bp,
      | top1_f * 10000 // n_tokens AS top1_share_bp
      |FROM roll ORDER BY lang""".stripMargin

  /** TERM BURSTINESS (Church & Gale 1995) — the variance-to-mean
    * ratio of a term's per-document counts: function words arrive
    * ~Poisson (VMR ≈ 1), content words are BURSTY (a doc that
    * mentions a topic mentions it repeatedly, VMR ≫ 1) — the signal
    * behind tf saturation in BM25 and stop-word lists learned from
    * data rather than curated. For the 20 highest-df terms
    * (deterministic pick: df desc, term asc): VMR in milli-units as
    * `(n·Σx² − (Σx)²)·1000 div (n·Σx)` — all integer (n = corpus
    * docs, x = per-doc count incl. zeros; the zero docs enter through
    * n, never materialized). Scale: one (term, doc) count aggregation
    * (map-side partial), a 20-row broadcast of the chosen terms, and
    * an answer-bounded moment rollup — the zeros trick keeps the
    * plan |postings|-sized, never |terms|×|docs|. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val nDocs = docs.count() // corpus-constant; one job, answer-sized
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("x"))
    val top = counts.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(20)
    counts.join(broadcast(top), Seq("tok"))
      .groupBy(col("tok"), col("df"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .select(col("tok"), col("df"), col("sx").as("tf"),
        expr(s"(${nDocs}L * sxx - sx * sx) * 1000 div (${nDocs}L * sx)")
          .as("vmr_milli"))
      .orderBy(col("df").desc, col("tok"))
  }

  val burstinessSql: String =
    """WITH counts AS (
      | SELECT tok, doc_id, count(*) AS x
      | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |       FROM documents)
      | GROUP BY tok, doc_id),
      |top AS (
      | SELECT tok, count(*) AS df FROM counts GROUP BY tok
      | ORDER BY df DESC, tok LIMIT 20),
      |n AS (SELECT count(*) AS nd FROM documents)
      |SELECT c.tok, cast(t.df as bigint) AS df,
      | cast(sum(c.x) as bigint) AS tf,
      | cast((n.nd * sum(c.x * c.x) - sum(c.x) * sum(c.x)) * 1000
      |   // (n.nd * sum(c.x)) as bigint) AS vmr_milli
      |FROM counts c JOIN top t USING (tok) CROSS JOIN n
      |GROUP BY c.tok, t.df, n.nd
      |ORDER BY df DESC, c.tok""".stripMargin

  /** TOKENIZER COVERAGE / OOV-RATE EVAL — the report read before
    * shipping a vocabulary: train a top-16 frequency vocab on the
    * TRAIN split (doc_id % 10 ≠ 0, the bloom entries' split), then
    * measure per-language out-of-vocabulary token share on the
    * HELD-OUT docs — the generalization number (`text_vocab_encode`
    * measures in-corpus coverage, which is optimistically biased by
    * construction). Vocab selection is deterministic (count desc,
    * token asc) so the WHOLE pipeline — training included — replays
    * relationally in DuckDB; OOV membership is an id-keyed left anti
    * semantics via left join + null check. Scale: one train-side
    * frequency agg, a vocab-row broadcast, one held-out scan; the
    * eval is answer-bounded per language. Vocab budget 16 — half the
    * fixture's 31-token vocabulary, so the eval shows a real coverage
    * gap (~46 % OOV); a production run raises the budget, the shape
    * is identical. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val isHeld = col("doc_id") % 10 === 0
    val vocab = docs.filter(!isHeld)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(16)
      .select(col("tok"), lit(1L).as("in_vocab"))
    docs.filter(isHeld)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("tok"))).as("oov_types"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        col("oov_types").cast("long").as("oov_types"),
        expr("n_oov * 10000 div n_tokens").as("oov_bp"))
      .orderBy(col("lang"))
  }

  val oovRateSql: String =
    """WITH vocab AS (
      | SELECT tok, 1 AS in_vocab FROM (
      |  SELECT tok, count(*) AS c
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id % 10 <> 0)
      |  GROUP BY tok ORDER BY c DESC, tok LIMIT 16)),
      |held AS (
      | SELECT lang, unnest(string_split(text, ' ')) AS tok
      | FROM documents WHERE doc_id % 10 = 0)
      |SELECT h.lang, cast(count(*) as bigint) AS n_tokens,
      | cast(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) as bigint)
      |   AS n_oov,
      | cast(count(DISTINCT CASE WHEN v.in_vocab IS NULL THEN h.tok END)
      |   as bigint) AS oov_types,
      | cast(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) * 10000
      |   // count(*) as bigint) AS oov_bp
      |FROM held h LEFT JOIN vocab v USING (tok)
      |GROUP BY h.lang ORDER BY h.lang""".stripMargin

  /** COMPRESSION-RATIO QUALITY FILTER — the Gopher/MassiveText-style
    * repetitiveness signal (Rae et al. 2021 filter on "duplicate
    * fraction"; compressibility is its information-theoretic form): a
    * document that deflates far below typical prose is boilerplate or
    * degenerate repetition; one that barely compresses is noise.
    * Per-doc DEFLATE size (JDK Deflater, level 6 — deterministic for
    * a fixed level) is computed partition-local in mapPartitions —
    * the only engine-side stage, sidecar'd like every codec output —
    * and the ratio classification + per-source rollup (docs flagged
    * too_repetitive < 2000 bp / too_random > 9000 bp / kept) replay
    * relationally in DuckDB. Scale: deflate is per-row CPU at scan
    * speed, nothing wide; the report is answer-bounded per source. */
  def compressionFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, src, text) =>
          val raw = text.getBytes("UTF-8")
          val d = new java.util.zip.Deflater(6)
          d.setInput(raw); d.finish()
          // compressBound-style sizing: zlib's worst case for an
          // incompressible input is ~len + len/1000 + 12 (5-byte
          // stored-block headers per 64 KB + wrapper) — a raw+64
          // buffer fills on large random docs and deflate() then
          // returns 0 forever with finished() false: a hung task
          val buf = new Array[Byte](raw.length + raw.length / 1000 + 128)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          d.end()
          (id, src, raw.length.toLong, n.toLong)
        }
      }.toDF("doc_id", "source", "raw_bytes", "deflate_bytes")
    oracleSidecar("deflate_sizes", sizes)
    sizes
      .withColumn("ratio_bp", expr("deflate_bytes * 10000 div raw_bytes"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ratio_bp") < 2000, 1L).otherwise(0L)).as("too_repetitive"),
        sum(when(col("ratio_bp") > 9000, 1L).otherwise(0L)).as("too_random"),
        sum(col("raw_bytes")).as("raw_bytes"),
        sum(col("deflate_bytes")).as("deflate_bytes"))
      .withColumn("kept",
        col("n_docs") - col("too_repetitive") - col("too_random"))
      .withColumn("corpus_ratio_bp",
        expr("deflate_bytes * 10000 div raw_bytes"))
      .orderBy(col("source"))
  }

  val compressionFilterSql: String =
    s"""WITH s AS (
       | SELECT doc_id, source, raw_bytes, deflate_bytes,
       |  deflate_bytes * 10000 // raw_bytes AS ratio_bp
       | FROM read_parquet('${oracleSidecarGlob("deflate_sizes")}'))
       |SELECT source, cast(count(*) as bigint) AS n_docs,
       | cast(sum(CASE WHEN ratio_bp < 2000 THEN 1 ELSE 0 END) as bigint)
       |   AS too_repetitive,
       | cast(sum(CASE WHEN ratio_bp > 9000 THEN 1 ELSE 0 END) as bigint)
       |   AS too_random,
       | cast(sum(raw_bytes) as bigint) AS raw_bytes,
       | cast(sum(deflate_bytes) as bigint) AS deflate_bytes,
       | cast(count(*) - sum(CASE WHEN ratio_bp < 2000 THEN 1 ELSE 0 END)
       |   - sum(CASE WHEN ratio_bp > 9000 THEN 1 ELSE 0 END) as bigint) AS kept,
       | cast(sum(deflate_bytes) * 10000 // sum(raw_bytes) as bigint)
       |   AS corpus_ratio_bp
       |FROM s GROUP BY source ORDER BY source""".stripMargin

  /** CORPUS REPRODUCIBILITY MANIFEST — the per-source content
    * fingerprint a training run pins in its data card so "same
    * corpus" is a checkable claim, not a directory name: doc counts,
    * exact char totals, id ranges, and an ORDER-INVARIANT content
    * checksum (bit_xor of xxhash64(doc_id, text) — XOR commutes, so
    * the checksum is independent of partitioning, task order, and
    * shuffle nondeterminism; flipping one character anywhere flips
    * it). The checksum is engine-specific (xxhash64), so it rides the
    * estimate-sidecar discipline: DuckDB recomputes every RELATIONAL
    * column (counts, chars, id ranges) from the base table and joins
    * the engine checksums from the sidecar — the checksum VALUES are
    * spec-pinned (two independent builds under different
    * partitionings must agree; see Round14bSpec).
    *
    * Scale shape: one fused scan + one groupBy(source) with map-side
    * partial XOR/sums — answer-sized output, no second pass. */
  def pipelineReproHash(spark: SparkSession, dir: String): DataFrame = {
    val man = t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("doc_id")).as("id_lo"),
        max(col("doc_id")).as("id_hi"),
        expr("bit_xor(xxhash64(doc_id, text))").as("checksum"))
    oracleSidecar("repro_hash",
      man.select(col("source"), col("checksum")))
    man.select(col("source"), col("n_docs"), col("n_chars_total"),
        col("id_lo"), col("id_hi"), col("checksum"))
      .orderBy(col("source"))
  }

  lazy val pipelineReproHashSql: String =
    s"""WITH man AS (
       | SELECT source, cast(count(*) as bigint) AS n_docs,
       |  cast(sum(n_chars) as bigint) AS n_chars_total,
       |  cast(min(doc_id) as bigint) AS id_lo,
       |  cast(max(doc_id) as bigint) AS id_hi
       | FROM documents GROUP BY source),
       |side AS (
       | SELECT source, checksum
       | FROM read_parquet('${oracleSidecarGlob("repro_hash")}'))
       |SELECT m.source, m.n_docs, m.n_chars_total, m.id_lo, m.id_hi,
       | s.checksum
       |FROM man m JOIN side s USING (source)
       |ORDER BY m.source""".stripMargin

  /** JENSEN–SHANNON DIVERGENCE between per-source unigram
    * distributions (Lin, IEEE-IT '91) — the pairwise corpus-drift
    * matrix a data-mixing pipeline reads before weighting sources:
    * JSD is symmetric, bounded by ln 2, and zero-safe (unlike KL).
    * Token space is the [[hashingTrick]]'s committed 128-bucket
    * feature hash (vocab→bucket map shipped to the oracle as the
    * same sidecar discipline), so every distribution is a fixed
    * 128-vector and the pair stage is |sources|²·128 — answer-sized
    * at any corpus scale. Each side's per-bucket term
    * ½·(c/n)·ln(2·c·n' / (c·n' + c'·n)) runs on bit-identical
    * integer products, is zero when c = 0 (the 0·ln 0 limit), is
    * rounded 6 dp and summed in decimal(18,6) — the PSI float
    * discipline.
    *
    * Scale shape: ONE data-sized tokenize+count to (source, bucket),
    * then a broadcast self-join over the 20×128 count matrix. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val vocabMap = toks.select(col("w")).distinct()
      .withColumn("bucket", pmod(xxhash64(col("w")), lit(128L)))
    oracleSidecar("jsd_vocab", vocabMap)
    val counts = toks.join(broadcast(vocabMap), Seq("w"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // both sides of the pair self-join
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val full = counts.join(broadcast(totals), Seq("source"))
    val lhs = full.select(col("source").as("s1"), col("bucket"),
      col("c").as("c1"), col("n").as("n1"))
    val rhs = full.select(col("source").as("s2"), col("bucket"),
      col("c").as("c2"), col("n").as("n2"))
    // full outer per pair via the source-pair × bucket grid
    val pairs = totals.select(col("source").as("s1"), col("n").as("n1"))
      .join(broadcast(totals.select(col("source").as("s2"), col("n").as("n2"))),
        col("s1") < col("s2"))
    val grid = pairs.crossJoin(broadcast(
      spark.range(0, 128).select(col("id").as("bucket"))))
    val cells = grid
      .join(lhs.select(col("s1"), col("bucket"), col("c1")),
        Seq("s1", "bucket"), "left")
      .join(rhs.select(col("s2"), col("bucket"), col("c2")),
        Seq("s2", "bucket"), "left")
      .withColumn("a", coalesce(col("c1"), lit(0L)))
      .withColumn("b", coalesce(col("c2"), lit(0L)))
      // log-argument products in decimal(38,0) (DuckDB mirrors in
      // HUGEINT): c·n' wraps int64 once per-source token counts pass
      // ~2e9 — the chi-square-entry widening discipline applies here too
      .withColumn("den", expr("cast(cast(a as decimal(38,0)) * n2 " +
        "+ cast(b as decimal(38,0)) * n1 as double)"))
      .withColumn("t1", when(col("a") > 0, round(
        (col("a") / col("n1")) * log(
          expr("cast(cast(a as decimal(38,0)) * n2 * 2 as double)") /
            col("den")) / 2, 6))
        .otherwise(lit(0.0)))
      .withColumn("t2", when(col("b") > 0, round(
        (col("b") / col("n2")) * log(
          expr("cast(cast(b as decimal(38,0)) * n1 * 2 as double)") /
            col("den")) / 2, 6))
        .otherwise(lit(0.0)))
    cells.groupBy(col("s1"), col("s2"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("t1").cast(org.apache.spark.sql.types.DecimalType(18, 6)) +
          col("t2").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("jsd_nats"))
      .orderBy(col("s1"), col("s2"))
  }

  lazy val sourceDivergenceSql: String =
    s"""WITH vocab AS (
       | SELECT w, bucket FROM read_parquet('${oracleSidecarGlob("jsd_vocab")}')),
       |toks AS (
       | SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |counts AS (
       | SELECT source, bucket, cast(count(*) as bigint) AS c
       | FROM toks JOIN vocab USING (w) GROUP BY 1, 2),
       |totals AS (
       | SELECT source, cast(sum(c) as bigint) AS n FROM counts GROUP BY 1),
       |pairs AS (
       | SELECT a.source AS s1, a.n AS n1, b.source AS s2, b.n AS n2
       | FROM totals a JOIN totals b ON a.source < b.source),
       |grid AS (
       | SELECT p.*, g.bucket
       | FROM pairs p, (SELECT unnest(range(0, 128)) AS bucket) g),
       |cells AS (
       | SELECT g.s1, g.s2, g.n1, g.n2,
       |  coalesce(l.c, 0) AS a, coalesce(r.c, 0) AS b
       | FROM grid g
       | LEFT JOIN counts l ON l.source = g.s1 AND l.bucket = g.bucket
       | LEFT JOIN counts r ON r.source = g.s2 AND r.bucket = g.bucket),
       |terms AS (
       | SELECT s1, s2, n1, n2,
       |  CASE WHEN a > 0 THEN round((a / cast(n1 as double)) *
       |    ln(cast(2 * cast(a as hugeint) * n2 as double) /
       |       cast(cast(a as hugeint) * n2 + cast(b as hugeint) * n1
       |            as double)) / 2, 6)
       |   ELSE 0.0 END AS t1,
       |  CASE WHEN b > 0 THEN round((b / cast(n2 as double)) *
       |    ln(cast(2 * cast(b as hugeint) * n1 as double) /
       |       cast(cast(a as hugeint) * n2 + cast(b as hugeint) * n1
       |            as double)) / 2, 6)
       |   ELSE 0.0 END AS t2
       | FROM cells)
       |SELECT s1, s2, max(n1) AS n1, max(n2) AS n2,
       | cast(sum(cast(t1 as decimal(18,6)) + cast(t2 as decimal(18,6)))
       |   as double) AS jsd_nats
       |FROM terms GROUP BY s1, s2
       |ORDER BY s1, s2""".stripMargin

  /** LEXICAL DIVERSITY per document — the vocabulary-richness panel
    * corpus linguists read next to [[zipfStats]]: type-token ratio
    * (integer bp — the raw measure, length-biased by design and
    * documented as such), Guiraud's R = types/√tokens ('54 — the
    * classic length correction; two-sqrt-free single IEEE sqrt on
    * bit-identical integers, 4 dp), and the hapax legomena share
    * (once-occurring types — the long-tail mass that drives
    * tokenizer vocabulary growth, cf. [[coverageCurve]]).
    *
    * Scale shape: one tokenize + (doc, word) count, one per-doc
    * rollup — corpus-linear, map-side partials on both. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val wc = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    wc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c") === 1).cast("long")).as("hapax"))
      .withColumn("ttr_bp", expr("n_types * 10000 div n_tokens"))
      .withColumn("guiraud",
        round(col("n_types") / sqrt(col("n_tokens").cast("double")), 4))
      .withColumn("hapax_share_bp", expr("hapax * 10000 div n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("ttr_bp"),
        col("guiraud"), col("hapax"), col("hapax_share_bp"))
      .orderBy(col("doc_id"))
  }

  val lexicalDiversitySql: String =
    """WITH wc AS (
      | SELECT doc_id, w, cast(count(*) as bigint) AS c
      | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |       FROM documents)
      | GROUP BY 1, 2),
      |agg AS (
      | SELECT doc_id, cast(sum(c) as bigint) AS n_tokens,
      |  cast(count(*) as bigint) AS n_types,
      |  cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) as bigint) AS hapax
      | FROM wc GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types,
      | cast(n_types * 10000 // n_tokens as bigint) AS ttr_bp,
      | round(n_types / sqrt(cast(n_tokens as double)), 4) AS guiraud,
      | hapax, cast(hapax * 10000 // n_types as bigint) AS hapax_share_bp
      |FROM agg ORDER BY doc_id""".stripMargin

  val all: Seq[GQuery] = Seq(
    GQuery("text_lexical_diversity", lexicalDiversity,
      Some(lexicalDiversitySql)),
    GQuery("text_source_divergence", sourceDivergence,
      Some(sourceDivergenceSql)),
    GQuery("pipeline_repro_hash", pipelineReproHash,
      Some(pipelineReproHashSql)),
    GQuery("text_compression_filter", compressionFilter,
      Some(compressionFilterSql)),
    GQuery("text_oov_rate", oovRate, Some(oovRateSql)),
    GQuery("text_burstiness", burstiness, Some(burstinessSql)),
    GQuery("text_zipf_stats", zipfStats, Some(zipfStatsSql)),
    GQuery("text_textrank_keywords", textrankKeywords, Some(textrankKeywordsSql)),
    GQuery("text_rake_keywords", rakeKeywords, Some(rakeKeywordsSql)),
    GQuery("text_hashing_trick", hashingTrick, Some(hashingTrickSql)),
    GQuery("text_readability", readability, Some(readabilitySql)),
    GQuery("text_pmi_collocations", pmiCollocations, Some(pmiCollocationsSql)),
    GQuery("text_lm_decode", lmDecode, Some(lmDecodeSql)),
    GQuery("text_kneser_ney", knBigramTable, Some(knBigramSql)),
    GQuery("text_vocab_encode", vocabEncode, Some(vocabEncodeSql)),
    GQuery("text_chunk_overlap", chunkOverlap, Some(chunkOverlapSql)),
    GQuery("text_inverted_index", invertedIndex, Some(invertedIndexSql)),
    GQuery("text_index_lookup", indexLookup, Some(indexLookupSql)),
    GQuery("text_shard_plan", shardPlan, Some(shardPlanSql)),
    GQuery("text_bpe_train", bpeTrainTable, Some(bpeTrainSql)),
    GQuery("text_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    GQuery("text_cms_termfreq", cmsTermFreq, Some(cmsTermFreqSql)),
    GQuery("text_nb_classifier", nbClassifier, Some(nbClassifierSql)),
    GQuery("text_ccnet_buckets", ccnetBuckets, Some(ccnetBucketsSql)),
    GQuery("text_unicode_clean", unicodeClean, Some(unicodeCleanSql)),
    GQuery("text_boilerplate_ngrams", boilerplateNgrams, Some(boilerplateNgramsSql)),
    GQuery("text_ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    GQuery("text_perplexity", perplexity, Some(perplexitySql)),
    GQuery("text_dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    GQuery("text_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    GQuery("text_repetition_filter", repetitionFilter, Some(repetitionFilterSql)),
    GQuery("text_source_quality", sourceQuality, Some(sourceQualitySql)),
    GQuery("text_pack_sequences", packSequences, Some(packSequencesSql)),
    GQuery("text_pii_scrub", piiScrub, Some(piiScrubSql)),
    GQuery("text_blocklist_filter", blocklistFilter, Some(blocklistFilterSql)),
    GQuery("pipeline_length_buckets", lengthBuckets, Some(lengthBucketsSql)),
    GQuery("text_token_regex", tokenRegex, Some(tokenRegexSql)),
    GQuery("text_token_stats", tokenStats, Some(tokenStatsSql)),
    GQuery("text_lang_stats", langStats, Some(langStatsSql)),
    GQuery("text_quality_score", qualityScore, Some(qualityScoreSql)),
    GQuery("text_tfidf_top_terms", tfidfTopTerms, Some(tfidfTopTermsSql)),
    GQuery("text_bm25_topk", bm25Topk, Some(bm25TopkSql)),
    GQuery("text_lang_id", langId, Some(langIdSql)),
    GQuery("text_langid_eval", langIdEval, Some(langIdEvalSql)),
    GQuery("text_langid_kappa", langIdKappa, Some(langIdKappaSql)),
    GQuery("text_coverage_curve", coverageCurve, Some(coverageCurveSql)),
    GQuery("text_fingerprint", fingerprint, Some(fingerprintSql)),
  )
}
