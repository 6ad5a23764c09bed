package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.Tables._
import graft.Det._

/** Tier C5 text analysis for training-data curation: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting,
  * corpus statistics. All pure Catalyst expressions (codegen'd,
  * shuffle-free until the final aggregate).
  */
object TextAnalysis {

  private def toks(c: Column): Column = split(c, " ")

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Stopword hits: native single-pass count of tokens in the (tiny,
    * compiled-into-the-expression) stopword set. Replaces the
    * interpreted `filter` HOF — CodegenFallback with a per-token
    * lambda, the same trap [[graft.functions.ShingleHashes]] fixed. */
  private def stopHits(text: Column): Column =
    graft.functions.TokenSetCount(text, enStop)

  /** Per-document token statistics: counts, distinct counts, average
    * token length, type-token ratio.
    *
    * The token-length sum needs no per-token pass at all: splitting on
    * a single space means `length(text) = sum(len(token)) + (n_tokens
    * - 1)` (every separator is exactly one character), so the average
    * token length is pure codegen'd arithmetic — the HOF
    * `aggregate(toks, 0, acc + length(t))` it replaces was an
    * interpreted per-token loop. */
  def t01TokenStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val nTok = size(t)
    documents(s, d).select(
      $"doc_id",
      length($"text").as("n_chars_calc"),
      nTok.as("n_tokens"),
      size(array_distinct(t)).as("n_types"),
      ((length($"text") - nTok + 1).cast("double") / nTok).as("avg_token_len"),
      (size(array_distinct(t)).cast("double") / nTok).as("type_token_ratio"))
  }

  val t01Sql: String =
    """SELECT doc_id,
      |  LENGTH(text) AS n_chars_calc,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_types,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t -> LENGTH(t))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_token_len,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS type_token_ratio
      |FROM documents""".stripMargin

  /** Quality score — a deterministic linear blend of length band,
    * lexical diversity, and stopword ratio (the shape of a production
    * quality filter, SQL-mirrorable for the oracle) — as a reusable
    * per-row expression (unrounded: thresholds compare against this,
    * displays round it), so pipeline consumers (c01/c02) inline it
    * instead of joining t02's output. */
  def qualityScoreCol(text: Column): Column = {
    val t = toks(text)
    val nTok = size(t).cast("double")
    val diversity = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = stopHits(text).cast("double") / nTok
    val lengthOk = when(nTok >= 20 && nTok <= 200, 1.0).otherwise(0.0)
    lengthOk * 0.4 + diversity * 0.4 + stopRatio * 0.2
  }

  def t02QualityScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val score = qualityScoreCol($"text")
    documents(s, d).select(
      $"doc_id",
      round(score, 6).as("quality"),
      (score >= 0.5).as("keep"))
  }

  /** [[qualityScoreCol]]'s DuckDB twin over a token-list column `t`
    * (= `string_split(text, ' ')`) — shared by t02 and the curation
    * consumers (c09/c10) so the two engines' quality definitions can
    * never drift apart per call site. */
  val qualitySqlExpr: String = {
    val stopList = enStop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""(CASE WHEN len(t) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.0 END) * 0.4
       |    + (CAST(len(list_distinct(t)) AS DOUBLE) / len(t)) * 0.4
       |    + (CAST(len(list_filter(t, x -> list_contains($stopList, x))) AS DOUBLE) / len(t)) * 0.2""".stripMargin
  }

  val t02Sql: String =
    s"""SELECT doc_id, ROUND(q, 6) AS quality, q >= 0.5 AS keep FROM (
       |  SELECT doc_id, $qualitySqlExpr AS q
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |)""".stripMargin

  /** Language-ID heuristic — marker-stopword voting over a per-language
    * marker list, ties and no-signal falling back to 'und' (the
    * synthetic corpus is English-wordlist text, so this mostly detects
    * 'en'; the operator contract is determinism, mirrored exactly in
    * SQL) — as a reusable per-row expression, same rationale as
    * [[qualityScoreCol]]. */
  def langPredCol(text: Column): Column = {
    import graft.functions.TokenSetCount
    val en = TokenSetCount(text, Seq("the", "a", "of", "and"))
    val de = TokenSetCount(text, Seq("der", "die", "das", "und"))
    val fr = TokenSetCount(text, Seq("le", "la", "les", "et"))
    val es = TokenSetCount(text, Seq("el", "los", "las", "y"))
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  def t03LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"lang".as("lang_declared"),
        langPredCol($"text").as("lang_pred"))
  }

  val t03Sql: String =
    """SELECT doc_id, lang AS lang_declared,
      |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
      |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
      |       WHEN fr >= es AND fr > 0 THEN 'fr'
      |       WHEN es > 0 THEN 'es'
      |       ELSE 'und' END AS lang_pred
      |FROM (
      |  SELECT doc_id, lang,
      |    len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS en,
      |    len(list_filter(t, x -> list_contains(['der','die','das','und'], x))) AS de,
      |    len(list_filter(t, x -> list_contains(['le','la','les','et'], x))) AS fr,
      |    len(list_filter(t, x -> list_contains(['el','los','las','y'], x))) AS es
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
      |)""".stripMargin

  /** Canonical vocabulary fingerprint: sha256 over the sorted distinct
    * token set — invariant to token order and duplication, so re-ordered
    * near-copies collide. */
  def t04Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id",
        sha2(array_join(array_sort(array_distinct(toks($"text"))), " "), 256)
          .as("vocab_fp"))
  }

  val t04Sql: String =
    """SELECT doc_id,
      |  sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS vocab_fp
      |FROM documents""".stripMargin

  /** Corpus statistics per (lang, source): exact distinct counts and
    * length distribution. */
  def t05CorpusStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        dsum($"n_chars".cast("double")).as("sum_chars"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"),
        countDistinct($"doc_id").as("n_distinct_ids"))
  }

  val t05Sql: String =
    s"""SELECT lang, source, COUNT(*) AS n_docs,
       |  ${sqlSum("CAST(n_chars AS DOUBLE)")} AS sum_chars,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       |  COUNT(DISTINCT doc_id) AS n_distinct_ids
       |FROM documents GROUP BY 1, 2""".stripMargin

  /** Sketch-based approximate stats (HLL distinct, approximate
    * percentiles): engine-specific sketches → rows-only driver check;
    * exactness bounds asserted in ScalaTest against t05/q22. */
  def t06ApproxStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d).agg(
      approx_count_distinct($"l_partkey").as("approx_parts"),
      approx_count_distinct($"l_orderkey").as("approx_orders"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx_median_price"))
  }

  /** BPE-style subword-ish token counting: the GPT-2 pre-tokenizer
    * shape (letter runs, digit runs, punctuation runs, each with an
    * optional leading space) via regexp — the token-budget estimator a
    * training pipeline runs before the real tokenizer. */
  def t07BpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pat = " ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"
    documents(s, d).select(
      $"doc_id",
      size(split($"text", " ")).as("ws_tokens"),
      regexp_count($"text", lit(pat)).as("bpe_tokens"))
  }

  val t07Sql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS bpe_tokens
      |FROM documents""".stripMargin

  /** Mod-p sampled document fingerprint (the 0-mod-p scheme of
    * Manber-style fingerprinting / a deterministic stand-in for
    * winnowing): keep the shingle hashes ≡ 0 (mod 8) — near-identical
    * documents share near-identical fingerprints, and the fingerprint
    * size is ~1/8 of the shingle count regardless of document length.
    * Engine-specific hashing → rows-only + ScalaTest vs known
    * near-dup pairs. */
  def t08ModpFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(
      $"doc_id",
      array_sort(graft.functions.ModFilter(Dedup.shingleHashes($"text"), 8, 0))
        .as("fingerprint"))
      .select($"doc_id", size($"fingerprint").as("fp_size"),
        array_join($"fingerprint", ",").as("fp"))
  }

  /** Deterministic sampling / split assignment for training pipelines:
    * a multiplicative-hash bucket of the stable key gives
    * partition-independent, engine-independent, reproducible samples —
    * Spark's sample() depends on partitioning and is neither. 90/5/5
    * train/val/test split plus a 5% sample flag, validated per split. */
  /** The deterministic Knuth-hash 90/5/5 split assignment shared by
    * t09 (per doc), c05 (per near-dup cluster rep) and c06 (the audit
    * target) — one definition so the split, its leakage-safe variant,
    * and the audit cannot drift apart. */
  def hashSplitCol(key: Column): Column = {
    // clamp the key into [0, 1e9) BEFORE the Knuth multiply: the product
    // then tops out at (1e9−1)·2654435761 ≈ 2.66e18 < Long.MaxValue, so
    // it can never wrap. The unclamped form silently overflowed for keys
    // above ~3.5e9 (pmod still lands in [0,100) but on wrapped values)
    // while the DuckDB oracle's BIGINT multiply errors at the same
    // scale — a latent split/oracle divergence. Buckets are unchanged
    // for keys below 1e9, which covers every fixture and any practical
    // per-source doc id; the oracle mirror in [[hashSplitSql]] applies
    // the identical clamp.
    val k = pmod(key, lit(1000000000L))
    val bucket = pmod(k * 2654435761L, lit(100L)) // Knuth multiplicative hash
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  /** SQL mirror of [[hashSplitCol]], generated from one place so the
    * three oracles that embed it (t09, c05, c06) cannot drift from the
    * Spark expression — same clamp, same multiply, same thresholds. */
  def hashSplitSql(expr: String): String = {
    def b = s"(($expr % 1000000000) * 2654435761) % 100"
    s"CASE WHEN $b < 90 THEN 'train' WHEN $b < 95 THEN 'val' ELSE 'test' END"
  }

  def t09DeterministicSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select($"doc_id", $"n_chars", hashSplitCol($"doc_id").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), dsum($"n_chars".cast("double")).as("sum_chars"))
  }

  val t09Sql: String =
    s"""SELECT split, COUNT(*) AS n_docs, ${sqlSum("CAST(n_chars AS DOUBLE)")} AS sum_chars
       |FROM (
       |  SELECT doc_id, n_chars, ${hashSplitSql("doc_id")} AS split
       |  FROM documents
       |) GROUP BY split""".stripMargin

  /** Corpus term frequencies, top-20 with deterministic tie-break —
    * the vocabulary head a tokenizer-training / stopword-mining pass
    * needs. Partial+final agg then TakeOrderedAndProject; the explode
    * never materializes per-doc arrays across the shuffle. */
  def t13TermTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"token".asc)
      .limit(20)
  }

  val t13Sql: String =
    """SELECT token, COUNT(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |WHERE len(token) > 0
      |GROUP BY token
      |ORDER BY freq DESC, token ASC
      |LIMIT 20""".stripMargin

  /** Document length histogram (100-char buckets) — the length
    * distribution a curation pass thresholds against. */
  def t14LengthHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select((floor($"n_chars" / lit(100.0)) * 100).cast("long").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_docs"))
  }

  val t14Sql: String =
    """SELECT CAST(FLOOR(n_chars / 100.0) * 100 AS BIGINT) AS bucket,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin

  /** t16: adjacent-token-pair frequencies — the count/argmax step of a
    * BPE/WordPiece merge iteration (at word granularity): the most
    * frequent adjacent pair is the next merge candidate, and the head
    * of this table is what a tokenizer-training pass consumes each
    * round. slice+arrays_zip build the bigram list as codegen'd array
    * ops (no interpreted higher-order lambda, no positional self-join —
    * a posexplode join on (doc_id, pos+1) would shuffle the corpus
    * twice for what is row-local work); the explode feeds a
    * partial+final count and the top-20 is TakeOrderedAndProject with
    * a deterministic tie-break. */
  def t16MergePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val n1 = greatest(size(t) - 1, lit(0))
    val pairs = arrays_zip(slice(t, lit(1), n1), slice(t, lit(2), n1))
    documents(s, d)
      .select(explode(pairs).as("p"))
      .select(concat_ws(" ", $"p.0", $"p.1").as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"pair".asc)
      .limit(20)
  }

  val t16Sql: String =
    """SELECT pair, COUNT(*) AS freq
      |FROM (
      |  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS pair
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents)
      |)
      |GROUP BY pair
      |ORDER BY freq DESC, pair ASC
      |LIMIT 20""".stripMargin

  /** t17: shingle novelty — per document, the fraction of its word-3-
    * gram shingles that occur in NO other document. Low-novelty docs
    * are templated/recombined content that dedup's pairwise thresholds
    * can miss (each pair under τ, yet nothing new); the corpus-level
    * novelty distribution is the diversity diagnostic a data-mixing
    * pass reads next to d13. Two shuffles: document frequency per
    * shingle (uniform hash key), then the per-doc ratio — counts are
    * integers, the final division is one exact double op, so results
    * are partition-independent. */
  def t17Novelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = documents(s, d)
      .select($"doc_id", explode(Dedup.shingleHashes($"text")).as("sg"))
    val df = ex.groupBy($"sg").agg(count(lit(1)).as("df"))
    ex.join(df, "sg")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           count(when($"df" === 1, 1)).as("n_unique"))
      .select($"doc_id", $"n_shingles", $"n_unique",
        ($"n_unique".cast("double") / $"n_shingles").as("novelty"))
  }

  /** Shingle construction mirrors d03's SQL fragment; hash-vs-string
    * shingle identity carries over d03's contract (injective at these
    * set sizes). COUNT(FILTER) keeps BIGINT (an integer SUM would
    * surface as HUGEINT→float64 at the gate). */
  val t17Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |           for i in range(1, len(t)-1)]) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS sg FROM sh
      |), df AS (
      |  SELECT sg, COUNT(*) AS df FROM ex GROUP BY sg
      |)
      |SELECT ex.doc_id, COUNT(*) AS n_shingles,
      |  COUNT(*) FILTER (WHERE df.df = 1) AS n_unique,
      |  CAST(COUNT(*) FILTER (WHERE df.df = 1) AS DOUBLE) / COUNT(*) AS novelty
      |FROM ex JOIN df USING (sg)
      |GROUP BY ex.doc_id""".stripMargin

  /** t18: per-document top-3 terms by tf·idf — keyword extraction, the
    * per-doc counterpart of t13's corpus top-k. idf is kept as the raw
    * rational N/df (no logarithm): IEEE *, / are correctly rounded in
    * every engine, so (tf·N)/df is bit-identical between Spark and the
    * oracle, whereas ln() is a transcendental with no cross-engine
    * guarantee — determinism is part of this operator's contract, and
    * the monotone map changes no ranking.
    *
    * Scale: tf is a partial+final count keyed by (doc_id, token); df
    * reuses tf's output (one extra narrow aggregate, not a second
    * corpus pass); the df join is keyed by token — skewed for
    * stopwords, but the tf frame has ≤ one row per (doc, token), so
    * the hot key's fan-in is bounded by the corpus doc count, and AQE
    * splits oversized join partitions; N is a 1-row broadcast. The
    * per-doc top-3 is a bounded window (rank ≤ 3 prunes in the
    * WindowGroupLimit pushdown before the sort materializes). */
  def t18TfidfTerms(s: SparkSession, d: String): DataFrame =
    tfidfTerms(documents(s, d), 3)

  /** The tf·idf extraction over any (doc_id, text) frame — see
    * [[t18TfidfTerms]]. */
  def tfidfTerms(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"token".asc)
    val tf = docs
      .select($"doc_id", explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      // parenthesization is part of the contract: (tf·N)/df — both
      // factors exact in double, one correctly-rounded division
      .withColumn("score", ($"tf".cast("double") * $"n_docs") / $"df")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"doc_id", $"rank", $"token", $"tf", $"df",
        round($"score", 6).as("tfidf_r"))
  }

  val t18Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  WHERE len(token) > 0
      |  GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
      |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rank, token, tf, df, ROUND(score, 6) AS tfidf_r
      |FROM (
      |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
      |    (CAST(tf.tf AS DOUBLE) * n.n_docs) / dfreq.df AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY (CAST(tf.tf AS DOUBLE) * n.n_docs) / dfreq.df DESC,
      |               tf.token ASC) AS rank
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
      |) WHERE rank <= 3""".stripMargin

  // ---- t19: approximate quantiles via deterministic histogram sketch ----

  /** t19: approximate per-group quantiles from a FIXED-WIDTH histogram
    * sketch — the 100 TB twin of q22's exact interpolated quantiles.
    * q22 shuffle-sorts every group (WindowExec buffers + spills the
    * whole partition); at corpus scale an ordered-statistic over
    * trillions of rows wants a mergeable sketch instead. The standard
    * sketches (GK / t-digest / `percentile_approx`) are merge-ORDER
    * dependent — their result can change with partitioning, which this
    * engine treats as a defect (PartitionInvarianceSpec) and which no
    * SQL oracle can hash-check. The fixed-bin histogram is the
    * deterministic member of the family: bin = floor(x / w) is a pure
    * per-row map, the histogram is an exact integer aggregate
    * (mergeable, partial-combine, any order), and the p-quantile is
    * read off the cumulative counts as the midpoint of the bin holding
    * the rank-⌊p·(n−1)⌋ value — so the answer is bit-identical at any
    * parallelism AND within w/2 of the exact order statistic, a bound
    * set by construction, not by data luck (`TextAnalysisSpec` asserts
    * it against the exact sort).
    *
    * Scale: two narrow aggregates (key×bin, then key over ≤ range/w
    * bins) — same shape as s09; no global sort, no per-group buffer.
    * w trades accuracy for state: 64 chars here ⇒ ±32 chars, ~100
    * bins/group at fixture lengths. w is a power of two so x/w is an
    * EXACT double operation (mantissa shift) — floor sees no rounding
    * noise and the oracle agrees bit-for-bit. */
  def t19ApproxQuantiles(s: SparkSession, d: String): DataFrame =
    histQuantiles(documents(s, d).select(col("lang"), col("n_chars")),
      "lang", "n_chars", 64.0,
      Seq("p50_chars" -> 0.50, "p90_chars" -> 0.90, "p99_chars" -> 0.99))

  /** The histogram-sketch quantile over any frame — see
    * [[t19ApproxQuantiles]]. `w` should be a power of two. */
  def histQuantiles(df: DataFrame, key: String, value: String, w: Double,
                    ps: Seq[(String, Double)]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val h = df
      .groupBy(col(key), floor(col(value) / w).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy($"bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wall = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    val cum = h
      .withColumn("cum", sum($"c").over(wcum))
      .withColumn("n", sum($"c").over(wall))
    // rank of the exact lower quantile is ⌊p·(n−1)⌋ (0-based); the
    // first bin whose cumulative count reaches rank+1 contains that
    // order statistic, and midpoints are monotone in bin, so MIN over
    // the conditional midpoint selects it
    val aggs = ps.map { case (name, p) =>
      min(when($"cum" >= floor(lit(p) * ($"n" - 1)) + 1,
        ($"bin" + lit(0.5)) * lit(w))).as(name)
    }
    cum.groupBy(col(key))
      .agg(max($"n").as("n_rows"), aggs: _*)
  }

  /** Oracle note: bare decimal literals are DECIMAL in DuckDB (Spark
    * parses them as DOUBLE) — every literal below is e-notation so both
    * engines run the identical IEEE double arithmetic. */
  val t19Sql: String =
    """WITH h AS (
      |  SELECT lang, CAST(FLOOR(n_chars / 64e0) AS BIGINT) AS bin, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT lang, bin, c,
      |    SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
      |    SUM(c) OVER (PARTITION BY lang) AS n
      |  FROM h
      |)
      |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_rows,
      |  MIN(CASE WHEN cum >= FLOOR(5e-1 * (n - 1)) + 1
      |        THEN (bin + 5e-1) * 64e0 END) AS p50_chars,
      |  MIN(CASE WHEN cum >= FLOOR(9e-1 * (n - 1)) + 1
      |        THEN (bin + 5e-1) * 64e0 END) AS p90_chars,
      |  MIN(CASE WHEN cum >= FLOOR(99e-2 * (n - 1)) + 1
      |        THEN (bin + 5e-1) * 64e0 END) AS p99_chars
      |FROM cum GROUP BY lang""".stripMargin

  // ---- t23: text normalization (NFC + control/whitespace cleanup) ----

  /** t23: canonical text normal form — Unicode NFC composition, control
    * characters (incl. tab/newline: single-line normal form) → space,
    * space runs collapsed, ends trimmed — plus the cleaned text's sha256
    * as the canonical content key. This is the cleanup pass that runs
    * BEFORE d01 exact dedup and d03 shingling at scale: NFC-equal texts
    * differing in combining-mark order, or byte-identical texts differing
    * only in whitespace, must converge to one hash or the whole dedup
    * tier undercounts.
    *
    * NFC is a native codegen'd expression ([[graft.functions.NfcNormalize]],
    * ASCII fast path = one byte scan); the rest is built-in
    * `regexp_replace`/`trim` — all row-local, shuffle-free, fused into
    * whole-stage codegen with the scan. DuckDB's independent
    * `nfc_normalize` implementation is the oracle (NFC is a Unicode
    * standard, so two implementations agree on assigned codepoints);
    * planted Unicode/control fixtures are spec-pinned since the benign
    * fixture corpus normalizes to itself. */
  def t23Normalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .withColumn("cleaned", normalizeTextCol($"text"))
      .select($"doc_id",
        ($"cleaned" =!= $"text").as("changed"),
        length($"cleaned").as("n_chars_norm"),
        sha2($"cleaned", 256).as("norm_sha"))
  }

  /** The reusable normal-form column behind t23. */
  def normalizeTextCol(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize(text), "[\\p{Cntrl}]", " "),
      " +", " "))

  val t23Sql: String =
    """SELECT doc_id,
      |  cleaned <> text AS changed,
      |  LENGTH(cleaned) AS n_chars_norm,
      |  sha256(cleaned) AS norm_sha
      |FROM (SELECT doc_id, text,
      |        trim(regexp_replace(regexp_replace(nfc_normalize(text),
      |             '[[:cntrl:]]', ' ', 'g'), ' +', ' ', 'g')) AS cleaned
      |      FROM documents)""".stripMargin

  // ---- t22: Gopher repetition rules ----

  /** t22: the Gopher repetition filters (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) — the published rule set between t11's
    * single trigram ratio and t21's LM score. Two signals per document,
    * both char-weighted (a repeated LONG phrase is worse than a repeated
    * short one, which token-level ratios can't see):
    *
    *  - `top2_frac`: fraction of characters covered by occurrences of
    *    the single most frequent word 2-gram (ties broken by the
    *    lexicographically smallest gram — deterministic cross-engine).
    *  - `dup5_frac`: fraction of characters covered by occurrences of
    *    word 5-grams that appear ≥ 2 times. (Gopher de-overlaps
    *    characters counted by overlapping duplicate n-grams; this keeps
    *    the simpler occurrence-mass form so the number is a pure
    *    aggregate — the deviation is documented and threshold-
    *    equivalent on non-pathological text.)
    *
    * `gopher_keep` applies the paper's thresholds (top-2-gram ≤ 0.20,
    * dup-5-gram ≤ 0.15) to the 6-dp-rounded fractions, so the flag is
    * exactly reproducible from the emitted columns.
    *
    * Determinism: numerators and denominators are integer aggregates
    * (order-free); the only float op is one final division of integers
    * rounded to 6 dp — the t11 discipline, full DuckDB oracle.
    *
    * Scale: two linear explode→partial-agg passes keyed (doc_id, gram)
    * then doc_id — gram state is per-document, not corpus-global, so
    * nothing grows with corpus size except rows. The top-1 window is
    * per-doc rank ≤ 1: WindowGroupLimit prunes to one row per doc
    * per partition before the sort materializes (the t18 plan shape). */
  // ---- t24: hashed-feature linear quality classifier ----

  /** t24: model-based quality scoring via the hashing trick — the
    * third rung of the quality ladder after rule-based (t02/t22) and
    * self-trained-LM (t21): score every document with a LINEAR
    * CLASSIFIER over hashed bag-of-words features, the fastText-shaped
    * filter the strongest public curation pipelines use for model-based
    * selection (DCLM, FineWeb-Edu). Features are token hash buckets
    * (Weinberger et al. 2009: bucket = h(token) mod D, D = 4096 — the
    * vocabulary never needs enumerating, new tokens cost nothing), the
    * score is the mean bucket weight, and keep = score > 0.
    *
    * The model artifact: production loads a trained D-dim weight vector
    * as a broadcast array (`element_at` on a lit array, or a broadcast
    * join on bucket for large D). No trained artifact can exist in this
    * sandbox, so the weights stand in deterministically — w(bucket) =
    * (Knuth-hash(bucket) mod 2001 − 1000)/1000 ∈ [−1, 1] — the m04
    * stub discipline: the REAL parts (feature hashing, explode→partial
    * agg plan, exact-decimal mean, keep rule) are fully built and
    * tested; only the learned numbers are fake, swappable row-for-row.
    *
    * Scale: one explode + one partial+final aggregate on doc_id — no
    * corpus-global state at all (unlike t21, which carries a bigram
    * model): per-token work is pure codegen'd hash arithmetic, so this
    * is the cheapest model-based filter a 100 TB pass can run.
    * Determinism: weights have 3 decimals, the per-doc sum is an exact
    * decimal ([[graft.Det.dsum]]); the one float op is a single
    * correctly-rounded division → golden-snapshot oracle (xxhash64 is
    * engine-specific, the t08 precedent), independent arithmetic
    * re-derived in the spec. */
  def t24HashClassifier(s: SparkSession, d: String): DataFrame =
    hashClassifierScores(documents(s, d).select("doc_id", "text"))

  /** Frame-taking core of t24 (specs feed planted corpora). */
  private[graft] def hashClassifierScores(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", explode(toks($"text")).as("w"))
      .filter(length($"w") > 0)
      .withColumn("bucket", pmod(xxhash64($"w"), lit(4096L)))
      // bucket < 4096 keeps the Knuth multiply far below Long overflow
      .withColumn("wgt",
        (pmod($"bucket" * 2654435761L, lit(2001L)) - 1000L).cast("double") / 1000.0)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"), dsum($"wgt").as("wsum"))
      .select($"doc_id", $"n_terms",
        round($"wsum".cast("double") / $"n_terms", 6).as("score_r"),
        ($"wsum" > 0).as("keep"))
  }

  // ---- t33: distinct-n corpus diversity (per source) ----

  /** t33: per-source distinct-n ratios — the distinct-1/distinct-2
    * diversity metric (Li et al. 2016, arXiv:1510.03055: unique
    * n-grams / total n-grams). In a training-data pipeline this is the
    * MODE-COLLAPSE diagnostic for synthetic/generated sources: a
    * distilled or templated source scores far below organic text at
    * the same volume, and the c04 datasheet's uniqueness column
    * (byte-exact dedup rate) cannot see it — two generations are never
    * byte-equal yet reuse the same n-grams. Read alongside c04 before
    * weighting a source in c03/c08.
    *
    * Scale: two aggregates per n — a total count (map-side combined)
    * and a distinct count (one shuffle on (source, gram); gram keys
    * are hash-uniform, stopword-heavy grams skew the PARTIAL agg
    * which combine bounds per task). State ∝ distinct grams per
    * source, the same vocabulary-mass scaling as t13/t21 — and like
    * any diversity measurement it can sample at the reader (a fixed
    * doc-hash sample preserves ratios) when the full pass isn't worth
    * it. Integer counts + one 6 dp-rounded division per ratio → full
    * SQL oracle (the t22 discipline). */
  def t33DistinctNgrams(s: SparkSession, d: String): DataFrame =
    distinctNgramRatios(documents(s, d).select("doc_id", "source", "text"))

  /** Frame-taking core of t33 (specs feed planted templated sources). */
  private[graft] def distinctNgramRatios(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = toks($"text")
    def grams(n: Int): DataFrame =
      if (n == 1)
        docs.select($"source", explode(t).as("g")).filter(length($"g") > 0)
      else {
        val len = size(t) - (n - 1)
        val zipped = arrays_zip((1 to n).map(i => slice(t, lit(i), len)): _*)
        docs.filter(size(t) >= n)
          .select($"source", explode(zipped).as("p"))
          .select($"source",
            concat_ws(" ", (0 until n).map(i => col(s"p.$i")): _*).as("g"))
      }
    def ratios(n: Int): DataFrame = grams(n).groupBy($"source").agg(
      count(lit(1)).as(s"total_$n"),
      countDistinct($"g").as(s"distinct_$n"))
      .withColumn(s"distinct_${n}_r",
        round(col(s"distinct_$n").cast("double") / col(s"total_$n"), 6))
    ratios(1).join(ratios(2), Seq("source"))
      .select($"source", $"total_1", $"distinct_1", $"distinct_1_r",
        $"total_2", $"distinct_2", $"distinct_2_r")
  }

  val t33Sql: String =
    """WITH tok AS (
      |  SELECT source, string_split(text, ' ') AS t FROM documents
      |), u AS (
      |  SELECT source, COUNT(*) AS total_1, COUNT(DISTINCT g) AS distinct_1
      |  FROM (SELECT source, unnest(t) AS g FROM tok) WHERE len(g) > 0
      |  GROUP BY 1
      |), b AS (
      |  SELECT source, COUNT(*) AS total_2, COUNT(DISTINCT g) AS distinct_2
      |  FROM (SELECT source, unnest([t[i] || ' ' || t[i+1]
      |          for i in range(1, len(t))]) AS g
      |        FROM tok WHERE len(t) >= 2)
      |  GROUP BY 1
      |)
      |SELECT source, total_1, distinct_1,
      |  ROUND(CAST(distinct_1 AS DOUBLE) / total_1, 6) AS distinct_1_r,
      |  total_2, distinct_2,
      |  ROUND(CAST(distinct_2 AS DOUBLE) / total_2, 6) AS distinct_2_r
      |FROM u JOIN b USING (source)""".stripMargin

  def t22GopherRules(s: SparkSession, d: String): DataFrame =
    // r19 batch 5 corpus fan-out: A/B 0.99 → 0.69 s (the rule
    // expressions were one scan task; Tables.fanned scaladoc)
    gopherRules(graft.Tables.fanned(s, d, "documents").select("doc_id", "text"))

  /** Frame-taking core of t22 (specs feed planted boilerplate docs). */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = toks($"text")
    val nTok = size(t)

    // per-doc (gram, count) frame for word n-grams, via the same
    // slice+arrays_zip construction as t21's bigrams (codegen'd array
    // ops, one explode — no interpreted per-token lambda)
    def gramCounts(n: Int): DataFrame = {
      val len = nTok - (n - 1)
      val zipped = arrays_zip((1 to n).map(i => slice(t, lit(i), len)): _*)
      docs.filter(nTok >= n)
        .select($"doc_id", length($"text").as("n_chars"), explode(zipped).as("p"))
        .select($"doc_id", $"n_chars",
          concat_ws(" ", (0 until n).map(i => col(s"p.$i")): _*).as("g"))
        .groupBy($"doc_id", $"n_chars", $"g")
        .agg(count(lit(1)).as("c"))
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"c".desc, $"g".asc)
    val top2 = gramCounts(2)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"n_chars", $"g".as("top2gram"),
        round(($"c" * length($"g")).cast("double") / $"n_chars", 6).as("top2_frac"))

    val dup5 = gramCounts(5)
      .filter($"c" >= 2)
      .groupBy($"doc_id")
      .agg(sum($"c" * length($"g")).as("dupmass"))

    top2.join(dup5, Seq("doc_id"), "left")
      .withColumn("dup5_frac",
        round(coalesce($"dupmass", lit(0L)).cast("double") / $"n_chars", 6))
      .select($"doc_id", $"top2gram", $"top2_frac", $"dup5_frac",
        ($"top2_frac" <= 0.20 && $"dup5_frac" <= 0.15).as("gopher_keep"))
  }

  // ---- t38: the complete Gopher repetition-signal table ----

  /** t38: ALL NINE n-gram repetition signals of Gopher's quality
    * filter (Rae et al. 2021, arXiv:2112.11446 Table A1) — t22 ships
    * the two-signal v1 (top-2-gram + dup-5-gram); this is the full
    * published table: the character-mass fraction of the single most
    * frequent n-gram for n ∈ {2,3,4}, and the character-mass fraction
    * covered by DUPLICATED n-grams (count ≥ 2) for n ∈ {5..10}, each
    * against the paper's named threshold (0.20/0.18/0.16 and
    * 0.15/0.14/0.13/0.12/0.11/0.10), composed into the keep verdict.
    * The graded n range exists because pathologies differ: a stuck
    * phrase dominates the top-n share at small n, templated boilerplate
    * shows up as long duplicated runs at large n.
    *
    * Scale: nine branches of the same shape — explode n-grams, count
    * per (doc, gram), reduce per doc — every aggregate partial+final
    * and every shuffle keyed by doc_id(+gram), so the whole table
    * partitions by document at any corpus size (t22's analysis ×9; the
    * branches share one cached-nothing scan each, all columnar). A doc
    * shorter than n tokens has no n-th signal: its fraction is 0 (no
    * repetition evidence) and the rule passes, oracle-mirrored. */
  def t38RepetitionSignals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // corpus fan-out measured MUCH worse here (A/B 1.74 vs 3.06 at
    // sf0.1): the nine n-gram branches each re-execute the fan-out
    // exchange, where the plain scan they share is cheaper than nine
    // shuffle reads — left plain
    repetitionSignals(documents(s, d).select($"doc_id", $"text"))
  }

  /** Frame-taking core of t38 (specs feed hand-computed fixtures).
    *
    * r19 NOTE (kept as measured evidence, guide §1.1): a single-pass
    * restructure — one explode emitting every (n, gram) instance via
    * nested higher-order functions (`transform(sequence(...), i =>
    * transform(sequence(...), n => struct(n, array_join(slice(t, i,
    * n), " "))))`), one (doc_id, n, g) count, conditional-aggregate
    * fold — was implemented and MEASURED 7× SLOWER (16.6 s vs 2.4 s
    * median at sf0.1): per-position lambda evaluation allocates a
    * sliced array copy and an array_join per (i, n) pair, where the
    * nine arrays_zip branches below each vectorize one n across the
    * whole token array inside codegen. The nine-branch shape stands;
    * its branches share the scan via runtime exchange reuse and each
    * gram exchange is inherent (different keys per n). */
  private[graft] def repetitionSignals(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = toks($"text")
    val nTok = size(t)
    def gramCounts(n: Int): DataFrame = {
      val len = nTok - (n - 1)
      val zipped = arrays_zip((1 to n).map(i => slice(t, lit(i), len)): _*)
      docs.filter(nTok >= n)
        .select($"doc_id", explode(zipped).as("p"))
        .select($"doc_id",
          concat_ws(" ", (0 until n).map(i => col(s"p.$i")): _*).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
    }
    def topFrac(n: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"c".desc, $"g".asc)
      gramCounts(n)
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", ($"c" * length($"g")).as(s"top${n}_mass"))
    }
    def dupMass(n: Int): DataFrame =
      gramCounts(n).filter($"c" >= 2)
        .groupBy($"doc_id").agg(sum($"c" * length($"g")).as(s"dup${n}_mass"))
    val base = docs.select($"doc_id", length($"text").as("n_chars"))
    val joined = (Seq(2, 3, 4).map(topFrac) ++ Seq(5, 6, 7, 8, 9, 10).map(dupMass))
      .foldLeft(base)((acc, f) => acc.join(f, Seq("doc_id"), "left"))
    def frac(c: Column): Column =
      round(coalesce(c, lit(0L)).cast("double") / $"n_chars", 6)
    val tops = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dups = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11,
      10 -> 0.10)
    val cols =
      tops.map { case (n, _) => frac(col(s"top${n}_mass")).as(s"top${n}_frac") } ++
      dups.map { case (n, _) => frac(col(s"dup${n}_mass")).as(s"dup${n}_frac") }
    val keep = (tops.map { case (n, thr) => frac(col(s"top${n}_mass")) <= thr } ++
      dups.map { case (n, thr) => frac(col(s"dup${n}_mass")) <= thr })
      .reduce(_ && _)
    joined.select($"doc_id" +: cols :+ keep.as("gopher_rep_keep"): _*)
  }

  /** Every fraction is (integer char mass) / n_chars — the same IEEE
    * division both engines compute; missing signals COALESCE to 0. */
  val t38Sql: String = {
    def gramList(n: Int): String =
      (0 until n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    def topCte(n: Int): String =
      s"""top$n AS (
         |  SELECT doc_id, c * LENGTH(g) AS top${n}_mass
         |  FROM (SELECT doc_id, g, COUNT(*) AS c,
         |          row_number() OVER (PARTITION BY doc_id
         |            ORDER BY COUNT(*) DESC, g ASC) AS rn
         |        FROM (SELECT doc_id, unnest([${gramList(n)}
         |                for i in range(1, len(t) - ${n - 2})]) AS g
         |              FROM tok WHERE len(t) >= $n)
         |        GROUP BY doc_id, g)
         |  WHERE rn = 1
         |)""".stripMargin
    def dupCte(n: Int): String =
      s"""dup$n AS (
         |  SELECT doc_id, SUM(c * LENGTH(g)) AS dup${n}_mass
         |  FROM (SELECT doc_id, g, COUNT(*) AS c
         |        FROM (SELECT doc_id, unnest([${gramList(n)}
         |                for i in range(1, len(t) - ${n - 2})]) AS g
         |              FROM tok WHERE len(t) >= $n)
         |        GROUP BY doc_id, g)
         |  WHERE c >= 2 GROUP BY doc_id
         |)""".stripMargin
    val tops = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dups = Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12, 9 -> 0.11,
      10 -> 0.10)
    val fracs =
      tops.map { case (n, _) =>
        s"ROUND(CAST(COALESCE(top${n}_mass, 0) AS DOUBLE) / n_chars, 6) AS top${n}_frac" } ++
      dups.map { case (n, _) =>
        s"ROUND(CAST(COALESCE(dup${n}_mass, 0) AS DOUBLE) / n_chars, 6) AS dup${n}_frac" }
    val keep =
      (tops.map { case (n, thr) =>
        s"ROUND(CAST(COALESCE(top${n}_mass, 0) AS DOUBLE) / n_chars, 6) <= $thr" } ++
       dups.map { case (n, thr) =>
        s"ROUND(CAST(COALESCE(dup${n}_mass, 0) AS DOUBLE) / n_chars, 6) <= $thr" })
        .mkString("(", " AND ", ")")
    s"""WITH tok AS (
       |  SELECT doc_id, LENGTH(text) AS n_chars, string_split(text, ' ') AS t
       |  FROM documents
       |), ${(Seq(2, 3, 4).map(topCte) ++ Seq(5, 6, 7, 8, 9, 10).map(dupCte))
              .mkString(", ")}
       |SELECT tok.doc_id, ${fracs.mkString(", ")},
       |  $keep AS gopher_rep_keep
       |FROM tok
       |${(Seq(2, 3, 4).map(n => s"LEFT JOIN top$n ON top$n.doc_id = tok.doc_id") ++
           Seq(5, 6, 7, 8, 9, 10).map(n => s"LEFT JOIN dup$n ON dup$n.doc_id = tok.doc_id"))
           .mkString("\n")}""".stripMargin
  }

  val t22Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, LENGTH(text) AS n_chars, string_split(text, ' ') AS t
      |  FROM documents
      |), g2 AS (
      |  SELECT doc_id, n_chars, g, COUNT(*) AS c
      |  FROM (SELECT doc_id, n_chars,
      |          unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
      |        FROM tok WHERE len(t) >= 2)
      |  GROUP BY 1, 2, 3
      |), top2 AS (
      |  SELECT doc_id, n_chars, g AS top2gram,
      |    ROUND(CAST(c * LENGTH(g) AS DOUBLE) / n_chars, 6) AS top2_frac
      |  FROM (SELECT *, row_number() OVER
      |          (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM g2)
      |  WHERE rn = 1
      |), dup5 AS (
      |  SELECT doc_id, SUM(c * LENGTH(g)) AS dupmass
      |  FROM (SELECT doc_id, g, COUNT(*) AS c
      |        FROM (SELECT doc_id,
      |                unnest([t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
      |                        for i in range(1, len(t) - 3)]) AS g
      |              FROM tok WHERE len(t) >= 5)
      |        GROUP BY 1, 2)
      |  WHERE c >= 2 GROUP BY 1
      |)
      |SELECT t.doc_id, t.top2gram, t.top2_frac,
      |  ROUND(CAST(COALESCE(d.dupmass, 0) AS DOUBLE) / t.n_chars, 6) AS dup5_frac,
      |  (t.top2_frac <= 0.20 AND
      |   ROUND(CAST(COALESCE(d.dupmass, 0) AS DOUBLE) / t.n_chars, 6) <= 0.15)
      |    AS gopher_keep
      |FROM top2 t LEFT JOIN dup5 d USING (doc_id)""".stripMargin

  // ---- t21: bigram-LM quality scoring (CCNet-style) ----

  /** t21: per-document cross-entropy under a bigram language model
    * trained on the corpus itself — the LM-based quality filter of the
    * CCNet pipeline (Wenzek et al. 2020, arXiv:1911.00359, which scores
    * with a KenLM n-gram model; a corpus-trained bigram model is the
    * distributed, self-contained form). Low cross-entropy = fluent,
    * typical text; high = noise, boilerplate soup, wrong-language
    * fragments. The t02/t11 surface heuristics see FORM (lengths,
    * ratios); this is the engine's only FLUENCY signal, the standard
    * public technique between heuristics and a neural scorer.
    *
    * Model: add-one-smoothed bigram probabilities P(w2|w1) =
    * (c(w1,w2)+1)/(c(w1•)+V) — all integer aggregates. Score:
    * xent = (1/n)·Σ −log₂P over the doc's n bigrams.
    *
    * Determinism: counts and V are integer aggregates (order-free);
    * each −log₂P is a pure per-value function (deterministic on a
    * machine, but log IS transcendental → cross-engine unsafe → golden
    * oracle, the t20 discipline); each term is quantized to 6 dp and
    * summed via [[graft.Det.dsum]] (exact decimal) so the per-doc sum —
    * the one float reduction whose ORDER varies with partitioning — is
    * bit-stable at any parallelism.
    *
    * Scale: training = two narrow integer aggregates over the bigram
    * explode (map-side partial combine; c(w1•) derives from the bigram
    * frame — one corpus pass total); scoring = the same exploded frame
    * equi-joined to the model on (w1, w2) with fan-out exactly 1 per
    * occurrence (stopword-prefix skew is an AQE-splittable join key,
    * bounded by ≤ 1 model row per key); per-doc reduction is one
    * partial+final agg on doc_id. No pair term, nothing quadratic,
    * model state ∝ distinct bigrams (the same vocabulary-mass scaling
    * argument as t13 — and at 100 TB the model frame prunes to bigrams
    * above a count floor exactly like any LM does). V comes off a 1-row
    * aggregate (the c04 `.head()` precedent — a scalar, not a dataset,
    * crosses the driver). */
  def t21LmQuality(s: SparkSession, d: String): DataFrame =
    // corpus fan-out measured WORSE here (A/B 1.19 vs 1.64 at sf0.1 —
    // the bigram model aggregate dominates, and the extra exchange
    // feeds it nothing) — left plain
    lmQualityScores(documents(s, d).select("doc_id", "text"))

  /** Frame-taking core of t21 (specs feed planted corpora). */
  private[graft] def lmQualityScores(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = toks($"text")
    val n1 = greatest(size(t) - 1, lit(0))
    val zipped = arrays_zip(slice(t, lit(1), n1), slice(t, lit(2), n1))
    val big = docs.filter(size(t) >= 2)
      .select($"doc_id", explode(zipped).as("p"))
      .select($"doc_id", $"p.0".as("w1"), $"p.1".as("w2"))
    val c12 = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy($"w1").agg(sum($"c12").as("c1"))
    val v = docs.select(explode(t).as("w")).filter(length($"w") > 0)
      .agg(countDistinct($"w")).head().getLong(0)
    big
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("nll", round(-log(2.0,
        ($"c12" + 1).cast("double") / ($"c1" + lit(v)).cast("double")), 6))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), dsum($"nll").as("nll_sum"))
      .select($"doc_id", $"n_bigrams",
        round($"nll_sum" / $"n_bigrams", 6).as("xent_r"))
  }

  // ---- t20: count-min-sketch heavy hitters ----

  /** t20: approximate heavy hitters via a count-min sketch — the
    * bounded-state twin of t13's exact term top-k, the same scale
    * relationship q22→t19 has for quantiles. t13's exact count is a
    * groupBy over the FULL vocabulary: at 100 TB the (token, count)
    * state is itself corpus-sized (hapax mass), and in a streaming
    * context it is unbounded. The CMS (Cormode–Muthukrishnan 2005)
    * bounds state at d×w integer cells regardless of vocabulary:
    * counts are folded into d=4 rows of w=512 buckets (bucket_i =
    * h1 + i·h2 mod w — the standard two-hash construction), and a
    * token's estimate is the MIN over its d cells — never an
    * underestimate (every occurrence hits all d cells), over by at
    * most the collision mass in its lightest cell (≤ 2·N/w with
    * probability 1 − 2⁻⁴ per token; `TextAnalysisSpec` pins both
    * bounds as hard assertions on the fixture).
    *
    * Scale: building the sketch is one aggregate with map-side
    * partial combine into ≤ d·w cells per task — shuffle fan-in is
    * 2048 rows TOTAL, not vocabulary-sized; merging sketches across
    * partitions/batches is cell-wise integer addition (commutative,
    * order-free — the same mergeability argument as t19's histogram).
    * The candidate set scored against the sketch here is the fixture
    * vocabulary; at scale candidates come from a per-partition local
    * top-k prefilter (a true corpus-wide heavy hitter is a heavy
    * hitter in some partition), keeping the estimate join narrow.
    *
    * Deterministic (fixed hash seeds, integer arithmetic) but not
    * SQL-replicable (Spark's Murmur3/XXH64) → golden-snapshot oracle,
    * the d05/t08 discipline. */
  def t20HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    cmsTokenEstimates(documents(s, d))
      .orderBy($"est".desc, $"token".asc)
      .limit(20)
  }

  /** The full CMS estimate frame behind t20 — (token, est) for every
    * distinct token. Frame-taking so specs (overestimate-only, error
    * bound, parallelism invariance) and pipelines can consume estimates
    * below the entry's top-20 cut. */
  def cmsTokenEstimates(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 512L
    val D = 4
    val tok = docs
      .select(explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
    val cells = tok
      // reduce each hash mod w BEFORE the row combination: the bucket
      // (h1 + i·h2) mod w only ever needs the residues, and residues
      // keep every intermediate < 4w — no Long overflow for ANSI mode
      // to reject (the t09 hashSplitCol lesson)
      .select($"token",
        pmod(hash($"token").cast("long"), lit(W)).as("h1"),
        pmod(xxhash64($"token"), lit(W)).as("h2"))
      .select($"token", posexplode(array((0 until D).map(i =>
        pmod($"h1" + lit(i.toLong) * $"h2", lit(W))): _*)))
      .select($"token", $"pos".as("row"), $"col".as("bucket"))
    val sketch = cells.groupBy($"row", $"bucket").agg(count(lit(1)).as("c"))
    cells.distinct()
      .join(sketch, Seq("row", "bucket"))
      .groupBy($"token").agg(min($"c").as("est"))
  }

  /** t25: BM25 ranked lexical retrieval (Robertson-Spärck Jones;
    * k1 = 1.2, b = 0.75, the +1 idf so scores stay positive) — the
    * LEXICAL twin of s01's embedding top-k, and the scored complement
    * of d07/d16's exact-overlap decontamination: given query documents,
    * rank the corpus by term relevance. A curation pipeline uses it to
    * mine near-matches of a benchmark that exact shingle overlap
    * misses (paraphrases sharing vocabulary) and to pull targeted
    * subsets for RAG/eval set construction.
    *
    * Determinism (the t21 discipline): idf is a pure per-token function
    * of two integer counts; each (query, doc, token) term score is
    * computed in one pinned parenthesization and 6dp-rounded; the ONLY
    * order-varying reduction — the per-(query, doc) term sum — goes
    * through [[graft.Det.dsum]] (exact decimal); ranking ties break on
    * doc_id. Parallelism-invariant end to end (probed in
    * PartitionInvarianceSpec) but ln() is transcendental with no
    * cross-engine guarantee → golden-snapshot oracle, the t21/t08
    * precedent.
    *
    * Scale: classic inverted-index economics. tf is one partial+final
    * aggregate over the corpus; df/dlen reuse tf's output (narrow
    * re-aggregates, not extra corpus passes); the scoring join is keyed
    * by token with the QUERY side tiny, so only postings of query terms
    * ever move — cost ∝ Σ_t∈queries df(t), not N; corpus-wide constants
    * (N, avgdl) are a 1-row broadcast. Stopword-skewed postings are the
    * t18 argument: ≤ one tf row per (doc, token), AQE splits hot join
    * partitions. At 100 TB the tf/df/dlen frames are the materialized
    * index a real deployment stores bucketed by token. */
  def t25Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 batch 5: corpus side fanned (Tables.fanned scaladoc) — the
    // tokenize+explode tf pass was one scan task; A/B 2.12 → 1.59 s
    // median-of-5 at sf0.1. The 20-doc query side stays a plain scan.
    bm25TopK(graft.Tables.fanned(s, d, "documents").select($"doc_id", $"text"),
      documents(s, d).filter($"doc_id" < 20).select($"doc_id", $"text"), 3)
  }

  /** BM25 top-k over any (doc_id, text) corpus for any (doc_id, text)
    * query frame — see [[t25Bm25]]. Output: (q_id, doc_id, rank,
    * bm25_r), self-matches excluded. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val tf = corpus
      .select($"doc_id", explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    // doc length = token count: computed NARROWLY from the text (one
    // codegen'd map, no shuffle) rather than re-aggregating tf — same
    // value (dl ≡ Σ tf per doc), one fewer execution of the corpus
    // explode→aggregate lineage
    val dlen = corpus.select($"doc_id",
      size(filter(toks($"text"), t => length(t) > 0)).cast("long").as("dl"))
      .filter($"dl" > 0)
    // avg of longs = exact long sum / count: one correctly-rounded
    // division, parallelism-independent
    val stats = dlen.agg(count(lit(1)).as("n_docs"), avg($"dl").as("avgdl"))
    val qt = queries
      .select($"doc_id".as("q_id"), explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"score".desc, $"doc_id".asc)
    // df computed ON the joined postings, not via a second consumer of
    // tf: `tf.groupBy(token)` and the scoring join canonicalize to
    // DIFFERENT subtrees (the join pushes isnotnull(token) into its
    // copy), so ReuseExchange cannot dedupe them and the corpus
    // explode→aggregate — the expensive stage — executed twice (r9's
    // #2 bench cost). After the inner join on token, the rows for one
    // (q_id, token) are exactly the tf postings of that token, so a
    // windowed count over (q_id, token) IS df — counted BEFORE the
    // self-match exclusion so excluding the query doc itself cannot
    // deflate it. Only query-term postings reach the window's shuffle;
    // tf now has exactly one consumer and executes once.
    val dfw = org.apache.spark.sql.expressions.Window.partitionBy($"q_id", $"token")
    qt.join(tf, "token")
      .withColumn("df", count(lit(1)).over(dfw))
      .filter($"doc_id" =!= $"q_id")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      // parenthesization is part of the contract (the t18 rule): each
      // factor computed once, rounded per term BEFORE the exact sum
      .withColumn("idf",
        log(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)))
      .withColumn("term_score", round(
        $"idf" * ($"tf" * lit(k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"avgdl")), 6))
      .groupBy($"q_id", $"doc_id").agg(graft.Det.dsum($"term_score").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"doc_id", $"rank", round($"score", 6).as("bm25_r"))
  }

  // ---- t41: persisted BM25 postings index (t25's serving artifact) ----

  /** Term-hash bucket count of the postings layout. 64 keeps the
    * sf-fixture file counts sane; a 100 TB deployment raises it so each
    * bucket directory holds ~(corpus postings / buckets) across a few
    * large files — the knob is layout-only, answers are bucket-count
    * independent (the bucket is xxhash64(token) mod B, never part of
    * any score). */
  val Bm25Buckets = 64

  private def bm25Bucket(token: Column): Column =
    pmod(xxhash64(token), lit(Bm25Buckets.toLong)).cast("int")

  /** The postings rows of a (doc_id, text) frame: one row per
    * (doc, token) with tf and the doc length DENORMALIZED onto the row
    * (classic impact-ready postings: serving never joins a doc-length
    * table — one fewer corpus-keyed join per query). Same tf/dl
    * definitions as [[bm25TopK]], verbatim. */
  private def bm25Postings(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tf = docs
      .select($"doc_id", explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val dlen = docs.select($"doc_id",
        size(filter(toks($"text"), t => length(t) > 0)).cast("long").as("dl"))
      .filter($"dl" > 0)
    tf.join(dlen, "doc_id")
      .select($"token", $"doc_id", $"tf", $"dl",
        bm25Bucket($"token").as("bucket"))
  }

  private val Bm25Postings = IndexStore.Lane("postings",
    IndexStore.Clustered(Seq("bucket"), Seq("token", "doc_id")),
    IndexStore.columns("token" -> StringType, "doc_id" -> LongType, "tf" -> LongType,
      "dl" -> LongType, "bucket" -> IntegerType))
  private val Bm25Stats = IndexStore.Lane("stats", IndexStore.Coalesced,
    IndexStore.columns("n_docs" -> LongType, "sum_dl" -> LongType))

  /** One (n_docs, sum_dl) PARTIAL row for a doc frame — readers sum the
    * partials, so appends and deletes contribute rows instead of
    * rewriting. Exact long arithmetic: avgdl = Σdl / n is one
    * correctly-rounded division over exact operands, bit-identical to
    * [[bm25TopK]]'s in-plan `avg(dl)` (whose double-summed integers are
    * exact at any realistic token mass per partial). */
  private def bm25StatsPartial(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(
        size(filter(toks($"text"), t => length(t) > 0)).cast("long").as("dl"))
      .filter($"dl" > 0)
      .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
  }

  /** t41: the BM25 inverted file as a PERSISTED ARTIFACT — t25's
    * production twin, completing the index-artifact family's lexical
    * lane (LSH d21, IVF s17/s18, IVFADC s27, payload bands m10, now
    * postings). t25 derives tf/df/dlen in-plan per run; retrieval at
    * scale writes them ONCE: postings (token, doc_id, tf, dl)
    * partitioned by term-hash bucket, plus a stats lane of summable
    * (n_docs, sum_dl) partials. Serving collects the query terms'
    * bucket ids (≤ |query terms| ints — the s17 literal-isin move) so
    * list selection is PARTITION PRUNING resolved at planning time:
    * a probe opens only its terms' bucket directories, never the
    * corpus-wide postings mass. df is derived from the joined postings
    * at serve time exactly as [[bm25TopK]] derives it (a count window
    * per (q_id, token) BEFORE self-match exclusion), so appends and
    * deletes need no df bookkeeping.
    *
    * Lifecycle through [[IndexStore]]'s verbs (the [[Bm25]] descriptor):
    * serve ≡ rebuild bit-identically after any of them, because tf/dl are
    * per-doc-independent and df/avgdl are derived from row and partial
    * sums. Serve ≡ in-plan t25 bit-identically (same expressions,
    * integer tf/dl round-tripping parquet exactly) — the registered
    * entry hash-checks the whole persisted round-trip against t25's OWN
    * golden (the s17≡s03 precedent); lifecycle equivalences are
    * spec-pinned in Bm25IndexSpec. */
  def writeBm25Index(docs: DataFrame, dir: String): Unit =
    IndexStore.write(Bm25, docs, (), dir)

  /** Length mass of a doc set's postings rows as one (n_docs, sum_dl)
    * row — the stats lane recomputed from postings. */
  private def bm25StatsOf(postings: DataFrame): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    postings.select($"doc_id", $"dl").distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum($"dl"), lit(0L)).cast("long").as("sum_dl"))
  }

  /** The BM25 artifact for [[IndexStore]]'s lifecycle verbs: postings
    * clustered by term-hash bucket (the serve path prunes on it), plus
    * the stats lane of summable (n_docs, sum_dl) partials. A write or
    * append adds the docs' partial. A fold RECOMPUTES stats from the
    * new postings — dl changes with a revision, and the recompute heals
    * any crash-window partial drift. A delete appends one NEGATIVE
    * partial for the newly-dead docs, read from their own postings rows
    * (ids already tombstoned are excluded first, so a double delete
    * never subtracts twice). Tombstones write BEFORE that correction:
    * a crash between the two can only leave avgdl counting masked docs
    * (a bounded, serve-safe drift the next fold heals), never
    * un-masked dead docs. */
  private[graft] val Bm25 = IndexStore.Family[Unit]("doc_id",
    Seq(Bm25Postings),
    derive = (docs, _, _) => Seq(bm25Postings(docs)),
    derived = Some(IndexStore.Derived(Bm25Stats,
      partial = (docs, _) => bm25StatsPartial(docs),
      fold = (s, _, dst, _, _) => bm25StatsOf(IndexStore.read(s, dst, Bm25Postings)),
      deleted = Some((root, newDead) =>
        bm25StatsOf(IndexStore.read(newDead.sparkSession, root, Bm25Postings)
            .join(broadcast(newDead), Seq("doc_id"), "left_semi"))
          .select((-col("n_docs")).as("n_docs"), (-col("sum_dl")).as("sum_dl"))))))

  def appendToBm25Index(delta: DataFrame, dir: String,
                        compactEvery: Int = 0): Unit =
    IndexStore.append(Bm25, delta, (), dir, compactEvery)

  def deleteFromBm25Index(removedIds: DataFrame, dir: String,
                          compactEvery: Int = 0): Unit =
    IndexStore.delete(Bm25, removedIds, dir, compactEvery)

  /** A rewritten doc scores with its NEW term frequencies and length
    * the moment it serves again ([[IndexStore.update]]). */
  def updateInBm25Index(changed: DataFrame, dir: String): Unit =
    IndexStore.update(Bm25, changed, (), dir)

  def syncBm25Index(upserts0: DataFrame, removed: DataFrame,
                    dir: String): Unit =
    IndexStore.sync(Bm25, upserts0, removed, (), dir)

  def compactBm25Index(s: SparkSession, dir: String): Unit =
    IndexStore.compact(Bm25, s, dir)

  /** Serve BM25 top-k from a persisted [[writeBm25Index]] layout —
    * [[bm25TopK]]'s expressions verbatim over the pruned postings.
    * The query terms' bucket ids collect to a literal isin partition
    * filter (≤ |query terms| ints, the s17 discipline), tombstoned
    * docs mask with one broadcast anti-join, avgdl sums the stats
    * partials. Bit-identical to the in-plan path for the same corpus:
    * tf/dl are integers, term scores 6dp-rounded, the per-(q,doc) sum
    * exact decimal, ties total-ordered. */
  def bm25TopKFromIndex(s: SparkSession, dir: String, queries: DataFrame,
                        k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import s.implicits._
    // generation resolved ONCE; postings + tombstones read through it
    // (the probeLshIndex single-resolution discipline, r17 advice)
    val root = IndexStore.currentPath(dir)
    val qt = queries
      .select($"doc_id".as("q_id"), explode(toks($"text")).as("token"))
      .filter(length($"token") > 0)
      .distinct()
      .localCheckpoint() // query-sized; feeds the bucket collect + join
    graft.Scratch.track(qt)
    val buckets = qt.select(bm25Bucket($"token").as("b")).distinct()
      .as[Int].collect().sorted
    val posts = IndexStore.maskTombstonesAt(
      IndexStore.read(s, root, Bm25Postings)
        .filter($"bucket".isin(buckets.map(Int.box): _*)),
      root, "doc_id") // identity when no deletion was ever recorded
    val stats = IndexStore.read(s, root, Bm25Stats)
      .agg(sum($"n_docs").as("n_docs"), sum($"sum_dl").as("sum_dl"))
      // null over an empty index, as avg is: no posting scores then
      .select($"n_docs", when($"n_docs" > 0, $"sum_dl".cast("double") / $"n_docs").as("avgdl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"score".desc, $"doc_id".asc)
    val dfw = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id", $"token")
    qt.join(posts, "token")
      .withColumn("df", count(lit(1)).over(dfw))
      .filter($"doc_id" =!= $"q_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(($"n_docs" - $"df" + lit(0.5)) / ($"df" + lit(0.5)) + lit(1.0)))
      .withColumn("term_score", round(
        $"idf" * ($"tf" * lit(k1 + 1.0)) /
          ($"tf" + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"avgdl")), 6))
      .groupBy($"q_id", $"doc_id").agg(graft.Det.dsum($"term_score").as("score"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"doc_id", $"rank", round($"score", 6).as("bm25_r"))
  }

  /** Temp index dirs from the registered t41 entry — the s17 FIFO
    * discipline (results are localCheckpointed before admission, so an
    * eviction can never invalidate a returned plan). */
  private val t41IndexDirs = new graft.Scratch.DirFifo(4)

  /** Registered: build the artifact in a temp dir in-plan (oracle
    * self-containment, the s17/s27 discipline) and serve t25's exact
    * query batch through it — ≡ t25 bit-identically, so the driver
    * hash-checks the persisted round-trip against t25's OWN golden. */
  def t41Bm25Persisted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"text")
    val dir =
      java.nio.file.Files.createTempDirectory("graft-t41-index").toString
    writeBm25Index(docs, dir)
    val served = graft.Scratch.track(
      bm25TopKFromIndex(s, dir, docs.filter($"doc_id" < 20), 3)
        .localCheckpoint())
    t41IndexDirs.admit(dir)
    served
  }

  /** t26: sliding token-window chunking — the step between a cleaned
    * corpus and anything embedding-shaped (RAG indexing, long-doc
    * embedding, context-window packing): split each document into
    * fixed-size token windows with overlap, so no boundary-straddling
    * content is lost to a hard cut. Window w, stride s < w ⇒ adjacent
    * chunks share w − s tokens; chunk count per doc is
    * 1 + ⌈max(n − w, 0) / s⌉ (every token is covered, the final chunk
    * may be short). Output carries (chunk_id, start_tok, n_tok, chunk)
    * so downstream joins can address a chunk or reconstruct provenance.
    *
    * Scale: entirely per-row — tokenize, one arithmetic chunk count, one
    * generator explode, slices of the already-split array. No shuffle,
    * no state, no corpus term; output mass ≈ input token mass × w/s
    * (~1.33× here), and the explode preserves the scan's partitioning
    * so a downstream embedding stage starts from healthy partitions.
    * Complements t12, which packs variable-length docs INTO fixed
    * windows; t26 cuts long docs DOWN to them. */
  def chunkWindows(docs: DataFrame, w: Int, stride: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(stride > 0 && stride <= w, "need 0 < stride <= window")
    // integer chunk count; doc token counts keep the division exact in
    // doubles (n ≪ 2^52), floor matches the DuckDB twin's `//`
    val nChunks = when($"n" <= w, lit(1))
      .otherwise(lit(1) + floor(($"n" - w + stride - 1) / stride).cast("int"))
    docs
      .select($"doc_id", toks($"text").as("tk"))
      .withColumn("n", size($"tk"))
      .select($"doc_id", $"tk", posexplode(sequence(lit(0), nChunks - 1)))
      .select($"doc_id", $"pos".cast("int").as("chunk_id"),
        ($"pos" * stride).cast("int").as("start_tok"),
        slice($"tk", $"pos" * stride + 1, lit(w)).as("chunk"))
      .select($"doc_id", $"chunk_id", $"start_tok",
        size($"chunk").as("n_tok"), array_join($"chunk", " ").as("chunk"))
  }

  def t26ChunkWindows(s: SparkSession, d: String): DataFrame =
    chunkWindows(documents(s, d), 64, 48)

  val t26Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, tk, n,
      |    CASE WHEN n <= 64 THEN 1 ELSE 1 + (n - 64 + 47) // 48 END AS nc
      |  FROM t
      |), ex AS (
      |  SELECT doc_id, tk, n, unnest(generate_series(0, nc - 1)) AS chunk_id
      |  FROM c
      |)
      |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
      |  len(list_slice(tk, chunk_id * 48 + 1, least(chunk_id * 48 + 64, n))) AS n_tok,
      |  array_to_string(list_slice(tk, chunk_id * 48 + 1,
      |                             least(chunk_id * 48 + 64, n)), ' ') AS chunk
      |FROM ex""".stripMargin

  /** t27: reciprocal-rank-fusion hybrid retrieval (Cormack, Clarke &
    * Buettcher 2009) — fuse a LEXICAL ranking (t25's BM25) with a DENSE
    * ranking (s01's cosine kNN over the aligned embeddings; vec_id ≡
    * doc_id in this corpus) into one list:
    * `rrf(q,d) = Σ_systems 1/(60 + rank_sys(q,d))`. This is the
    * standard production hybrid-search combiner (Elasticsearch ships it
    * as the default `rank.rrf`; Vespa/OpenSearch likewise) precisely
    * because it needs only RANKS — BM25 scores and cosines live on
    * incomparable scales, and RRF sidesteps score normalization
    * entirely. A curation pipeline uses it to mine benchmark
    * contamination and RAG candidates that BOTH surface forms miss
    * alone: paraphrases rank high dense-only, vocabulary matches
    * lexical-only.
    *
    * Determinism: each input rank is deterministic under its own
    * entry's discipline (t25: 6dp term scores + exact sum; s01: pinned
    * dot kernel); the RRF term 1/(60+rank) is one correctly-rounded
    * division of exact integers, 6dp-rounded per system, and the
    * per-(q,doc) sum of ≤ 2 terms goes through [[graft.Det.dsum]] —
    * order-free end to end, so the fused list is parallelism-invariant.
    * BM25's ln() makes the upstream ranks cross-engine unsafe → golden
    * oracle, the t25 precedent.
    *
    * Scale: both input rankings arrive already top-k'd (k rows per
    * query, query count ≪ corpus), so fusion itself — one union, one
    * (q_id, doc_id) aggregate, one window over ≤ 2k rows per query —
    * is query-mass work, independent of corpus size. The corpus-scale
    * stages are the two retrievals, each already shipped with its own
    * 100 TB path (t25's inverted index; s13/s14 swap in for the dense
    * scan). */
  def rrfFuse(ranked: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    val s = ranked.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"rrf".desc, $"doc_id".asc)
    ranked
      .select($"q_id", $"doc_id",
        round(lit(1.0) / (lit(kRrf) + $"rank"), 6).as("term"))
      .groupBy($"q_id", $"doc_id").agg(graft.Det.dsum($"term").as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"q_id", $"doc_id", $"rank", $"rrf".cast("double").as("rrf_r"))
  }

  /** The shipped entry: BM25 top-10 ∪ dense cosine top-10 for the
    * shared query set (ids < 20), RRF keeps 5. */
  def t27RrfFusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19 batch 5: corpus fan-out measured FLAT here in a same-box A/B
    // (2.18 vs 2.23 median-of-5 at sf0.1; the two retrieval branches
    // overlap enough that neither scan stage is the critical path) —
    // left plain, unlike t25 whose lone BM25 pass wins
    val docs = documents(s, d).select($"doc_id", $"text")
    val lex = bm25TopK(docs, docs.filter($"doc_id" < 20), 10)
      .select($"q_id", $"doc_id", $"rank")
    val c = embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm($"v"))
    val q = c.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"cosine".desc, $"n_id".asc)
    val den = c.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("n_id"),
        (Similarity.dot($"v", $"qv") / ($"nrm" * $"qn")).as("cosine"))
      .withColumn("rank", row_number().over(wd))
      .filter($"rank" <= 10)
      .select($"q_id", $"n_id".as("doc_id"), $"rank")
    rrfFuse(lex.unionByName(den), 5)
  }

  // ---- t29: BPE tokenizer training (word-histogram reduction) ----

  /** t29: train a byte-pair-encoding merge table FROM the corpus — the
    * tokenizer-training step of an LLM data pipeline (t16 computes one
    * argmax's pair frequencies; this runs the full Sennrich et al. 2016
    * training loop). The scalable design is the WORD-HISTOGRAM
    * reduction every production trainer uses (HF tokenizers, SentencePiece
    * BPE mode): pair statistics depend on the corpus only through the
    * word→count table, so
    *
    *  1. ONE distributed pass aggregates the histogram (hash agg on
    *     word — the same shuffle shape as t13), capped at `maxVocab`
    *     most-frequent types (Zipf: the tail it drops carries
    *     vanishing mass; cap = deterministic (count DESC, word ASC)
    *     prefix, so the result stays reproducible);
    *  2. the merge loop runs DRIVER-LOCAL over the histogram — the
    *     collect is of the aggregated vocabulary (the Bloom-build /
    *     centroid precedent: small by construction, ~10⁷ types for a
    *     100 TB English corpus vs 10¹¹ documents), never the corpus.
    *
    * Pure integer counts with a total-order tie-break
    * (−count, left, right) make training bit-deterministic at any
    * parallelism → golden-hashed; the classic low/lower/newest/widest
    * worked example is hand-pinned in `TextAnalysisSpec`. Output: the
    * ranked merge table (rank, left, right) — the artifact a tokenizer
    * ships (and what [[bpeEncode]] applies back to the corpus).
    *
    * The merge loop maintains pair counts INCREMENTALLY — the HF
    * tokenizers algorithm: an inverted index pair → word ids means each
    * merge touches only the words that CONTAIN the merged pair, and an
    * ordered set over (−count, left, right) makes best-pair selection
    * O(log P) instead of a full recount. Per-merge cost is
    * Σ|affected words|, not O(vocab × word length) — the difference
    * between 40 toy merges and a production 32k–100k-merge vocabulary
    * over a ~10⁷-type histogram, where a full recount per merge is
    * ~10¹²⁺ driver-side symbol operations (days) and the incremental
    * form stays minutes. Selection order and therefore output is
    * bit-identical to a full recount: the ordered set always holds
    * exactly the live (count > 0) pairs, keyed by the same total
    * order. */
  def bpeTrain(docs: DataFrame, numMerges: Int,
               maxVocab: Int = 1 << 20): Seq[(Int, String, String)] = {
    val s = docs.sparkSession
    import s.implicits._
    val hist = docs.select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w".asc).limit(maxVocab)
      .as[(String, Long)].collect()
    bpeTrainLocal(hist, numMerges)
  }

  /** Driver-local merge loop over the collected word histogram — split
    * out so specs/probes can exercise merge-count scaling without a
    * SparkSession. */
  private[graft] def bpeTrainLocal(hist: Array[(String, Long)],
                                   numMerges: Int): Seq[(Int, String, String)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] =
      hist.map { case (w, _) => w.map(_.toString).toArray :+ "</w>" }
    val freqs: Array[Long] = hist.map(_._2)
    // live pair state: exact counts, inverted index pair → word ids,
    // and an ordered view for O(log P) best-pair selection under the
    // (−count, left, right) total order
    val counts = mutable.HashMap[(String, String), Long]()
    val wordsOf = mutable.HashMap[(String, String), mutable.BitSet]()
    val ord = Ordering.fromLessThan[(Long, String, String)] { (a, b) =>
      a._1 > b._1 || (a._1 == b._1 &&
        (a._2 < b._2 || (a._2 == b._2 && a._3 < b._3)))
    }
    val live = mutable.TreeSet.empty[(Long, String, String)](ord)
    def bump(k: (String, String), delta: Long): Unit = {
      val before = counts.getOrElse(k, 0L)
      if (before != 0L) live.remove((before, k._1, k._2))
      val after = before + delta
      if (after == 0L) counts.remove(k)
      else { counts(k) = after; live.add((after, k._1, k._2)) }
    }
    for (i <- words.indices) {
      val syms = words(i)
      var j = 0
      while (j < syms.length - 1) {
        val k = (syms(j), syms(j + 1))
        bump(k, freqs(i))
        wordsOf.getOrElseUpdate(k, mutable.BitSet.empty) += i
        j += 1
      }
    }
    val merges = mutable.ArrayBuffer[(Int, String, String)]()
    var r = 1
    while (r <= numMerges && live.nonEmpty) {
      val (_, l, rt) = live.head
      merges += ((r, l, rt))
      val affected = wordsOf.getOrElse((l, rt), mutable.BitSet.empty).toArray
      for (idx <- affected) {
        val n = freqs(idx)
        val old = words(idx)
        // left-to-right non-overlapping application — same pass the
        // encoder uses, so training and encoding agree on semantics
        val neu = mutable.ArrayBuffer[String]()
        var i = 0
        while (i < old.length) {
          if (i < old.length - 1 && old(i) == l && old(i + 1) == rt) {
            neu += l + rt; i += 2
          } else { neu += old(i); i += 1 }
        }
        val nw = neu.toArray
        // exact pair-count delta for this word (new pairs − old pairs)
        val d = mutable.HashMap[(String, String), Long]()
        var j = 0
        while (j < nw.length - 1) {
          val k = (nw(j), nw(j + 1)); d(k) = d.getOrElse(k, 0L) + n; j += 1
        }
        j = 0
        while (j < old.length - 1) {
          val k = (old(j), old(j + 1)); d(k) = d.getOrElse(k, 0L) - n; j += 1
        }
        for ((k, dn) <- d if dn != 0L) bump(k, dn)
        // inverted-index membership: drop pairs this word no longer
        // contains, add the ones the merge created
        val oldKeys = mutable.Set[(String, String)]()
        j = 0
        while (j < old.length - 1) { oldKeys += ((old(j), old(j + 1))); j += 1 }
        val newKeys = mutable.Set[(String, String)]()
        j = 0
        while (j < nw.length - 1) { newKeys += ((nw(j), nw(j + 1))); j += 1 }
        for (k <- oldKeys if !newKeys.contains(k)) {
          wordsOf.get(k).foreach { set =>
            set -= idx; if (set.isEmpty) wordsOf.remove(k)
          }
        }
        for (k <- newKeys if !oldKeys.contains(k))
          wordsOf.getOrElseUpdate(k, mutable.BitSet.empty) += idx
        words(idx) = nw
      }
      r += 1
    }
    merges.toSeq
  }

  /** Registered: 40 merges over the document corpus. */
  def t29BpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(documents(s, d).select($"doc_id", $"text"), 40)
      .toDF("rank", "left", "right")
  }

  /** Persist a trained merge table as a parquet artifact — the
    * train-once / encode-many shape production tokenization uses: t29
    * runs ONCE over the training corpus (one histogram aggregate + the
    * driver merge loop), the table ships as a ~MB artifact, and every
    * later encode pass — the part that actually touches 100 TB — loads
    * it and runs t30's pure map stage with zero training cost. The
    * registered t30/c14/t31 entries still retrain inline because the
    * oracle contract requires each entry to be a pure function of its
    * input dir; this pair is the production seam (the c12
    * `curationState` precedent, same parquet-artifact discipline). */
  def saveMergeTable(merges: Seq[(Int, String, String)], dir: String): Unit = {
    val s = SparkSession.active
    import s.implicits._
    merges.toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[saveMergeTable]] artifact, rank-ordered. Round-trip is
    * exact (int + string columns), so encode-with-loaded-table is
    * bit-identical to encode-with-trained-table (spec-pinned). */
  def loadMergeTable(s: SparkSession, dir: String): Seq[(Int, String, String)] = {
    import s.implicits._
    s.read.parquet(dir).select($"rank", $"left", $"right")
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
  }

  // ---- t30: BPE encode (apply the trained merge table to the corpus) ----

  /** t30: ENCODE the corpus with the t29-trained merge table — the
    * consuming half of the tokenizer loop, which upgrades every
    * token-denominated operator from whitespace counts to real
    * tokenizer counts (c14 reruns the c10 token budget on these).
    * Train once on the driver (t29's histogram reduction), then the
    * ranked table rides into [[graft.functions.BpeEncode]] as one
    * reference object — per-row greedy merge application, zero
    * shuffles, embarrassingly parallel: at 100 TB this is a pure
    * map stage whose cost is corpus-linear and whose plan is
    * scan → project, nothing else.
    *
    * Output per doc: the BPE token count plus an order-sensitive
    * xxhash64 of the full token sequence — the sequence itself is
    * corpus-sized (that's the point), so the golden snapshot pins its
    * exact content by hash without committing a token-level dump.
    * Deterministic: training is bit-deterministic (t29), encoding is a
    * pure per-row function — golden-hashed with parallelism invariance
    * probed alongside the other engine-side ops. */
  def t30BpeEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"text")
    val toks = graft.functions.BpeEncode($"text", bpeTrain(docs, 40))
    docs.select($"doc_id",
      size(toks).cast("long").as("n_bpe"),
      // space-joined before hashing: tokens never contain a space (the
      // encoder splits on it), so the join is boundary-unambiguous --
      // [ab, c] and [a, bc] hash differently
      xxhash64(concat_ws(" ", toks)).as("tok_hash"))
  }

  // ---- t32: tokenizer fertility / compression report ----

  /** t32: the per-source tokenizer-economics report — the numbers a
    * tokenizer team reads before committing a vocabulary: FERTILITY
    * (BPE tokens per whitespace word — how many pieces the tokenizer
    * shatters a word into; near 1.0 on in-domain text, inflated on
    * out-of-vocabulary sources) and COMPRESSION (characters per BPE
    * token — how much text a context window actually holds). Per
    * source because that is the decision grain: a source with outlier
    * fertility either needs vocab coverage or burns training budget.
    * Composes t29's table + t30's encoder into ONE aggregate pass:
    * per-row codegen'd counts (BpeEncode size, whitespace size,
    * length) → partial+final hash aggregate on source — t13's shuffle
    * shape, a few rows out at any corpus size. Integer sums with 6dp
    * ratio rounding ⇒ deterministic → golden-hashed like its t30
    * input. */
  def t32TokenizerReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = bpeTrain(docs.select($"doc_id", $"text"), 40)
    docs.select($"source",
        size(graft.functions.BpeEncode($"text", merges))
          .cast("long").as("n_bpe"),
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("n_ws"),
        length($"text").cast("long").as("n_chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bpe").as("bpe_tokens"),
        sum($"n_ws").as("ws_tokens"),
        sum($"n_chars").as("chars"),
        // explicit null contract: a source whose texts are all empty/
        // whitespace has no denominator — emit null, never a silent
        // divide artifact (golden-snapshotted, so the contract is ours
        // to pin; real corpora always have n_ws/n_bpe > 0)
        when(sum($"n_ws") > 0,
          round(sum($"n_bpe") / sum($"n_ws").cast("double"), 6))
          .as("fertility"),
        when(sum($"n_bpe") > 0,
          round(sum($"n_chars") / sum($"n_bpe").cast("double"), 6))
          .as("chars_per_token"))
  }

  // ---- t28: mergeable sketch profile (incremental corpus profiling) ----

  /** t28: the per-source corpus profile rebuilt from MERGEABLE SKETCH
    * ROWS — the incremental twin of t05/t06 and the missing piece of
    * the CDC loop (c07 feeds deltas to d11/s06/c12; t28 keeps the
    * PROFILE current without rescanning old data). Each ingestion batch
    * computes one tiny row per (source, batch): exact doc/token counts
    * plus Datasketches HLL sketches (binary columns, lgK = 12 ⇒ ~2 KB
    * each) of the distinct token set and the distinct content-hash set.
    * Profiling the grown corpus then MERGES sketch rows —
    * `hll_union_agg` over per-batch state, never a rescan: at 100 TB
    * the nightly profile reads kilobytes of sketch manifest instead of
    * the corpus, the same economics c07 gives dedup.
    *
    * Merging is LOSSLESS by the sketch algebra: an HLL register state
    * is a per-register MAX over the value set's hashes, so
    * union(sketch(A), sketch(B)) = sketch(A ∪ B) exactly — the
    * estimate after any batch slicing or partitioning is bit-identical
    * to the single-pass estimate ([[graft.TextAnalysisSpec]] pins
    * slicings 1/4/8 and the ±3·RSE accuracy envelope vs exact
    * distinct counts). Estimates are integer (`hll_sketch_estimate` →
    * long); engine-specific hashing ⇒ golden-hashed, the t08/t20
    * precedent. */
  def sketchProfile(docs: DataFrame, numBatches: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val batch = pmod($"doc_id", lit(numBatches.toLong)).as("batch")
    // per-(source, batch) sketch rows — the state an ingestion batch
    // would persist; `text` never crosses a stage boundary un-reduced
    val tokRows = docs.select($"source", batch, explode(split($"text", " ")).as("tok"))
      .groupBy($"source", $"batch")
      .agg(hll_sketch_agg($"tok", lit(12)).as("tok_sk"),
        count(lit(1)).as("n_tokens"))
    val docRows = docs.select($"source", batch, sha2($"text", 256).as("th"))
      .groupBy($"source", $"batch")
      .agg(hll_sketch_agg($"th", lit(12)).as("text_sk"),
        count(lit(1)).as("n_docs"))
    // the profile pass: merges sketch STATE, reads no corpus bytes
    tokRows.join(docRows, Seq("source", "batch"))
      .groupBy($"source")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_tokens").as("n_tokens"),
        hll_sketch_estimate(hll_union_agg($"tok_sk", lit(false)))
          .as("distinct_tokens_est"),
        hll_sketch_estimate(hll_union_agg($"text_sk", lit(false)))
          .as("distinct_texts_est"))
  }

  /** Registered: 4 batches — enough that every source spans several
    * sketch rows and the merge path is load-bearing at every SF. */
  def t28SketchProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sketchProfile(documents(s, d).select($"doc_id", $"source", $"text"), 4)
  }

  // ---- t34: Gopher-style quality-rule datasheet ----

  /** t34: the per-document quality-rule audit in the style of Rae et
    * al. 2021 (Gopher, §A1.1 "quality filtering") — each rule a named
    * boolean column plus the measured quantity it gates, and a
    * composite pass flag. Shipping the RULE TABLE rather than the
    * filtered corpus is deliberate: a curation review reads per-rule
    * hit rates (via one groupBy over this frame) before committing to
    * thresholds, and c02-style funnels can cite which rule rejected a
    * document. Rules (thresholds picked to discriminate on the fixture
    * corpus; production tunes per source):
    *   r_len:   50 ≤ word count ≤ 100 000
    *   r_mwl:   3 ≤ mean word length ≤ 10
    *   r_alpha: ≥ 80% of words contain a letter
    *   r_stop:  ≥ 2 hits in a 7-word stopword list
    *   r_rep:   most frequent word ≤ 10% of all words (the repetition
    *            signal; Gopher's top-n-gram family, n = 1)
    *
    * Scale: ONE corpus scan. Every rule input derives from the
    * per-(doc, word) histogram — n_words = Σc, non-space chars =
    * Σ len(w)·c (split keeps empty tokens on doubled spaces, so token
    * lengths sum exactly to non-space chars), alpha/stop masses are
    * conditional sums — so the whole datasheet is explode → groupBy
    * (doc_id, word) → groupBy doc_id, both partial-aggregated
    * map-side, no join and no second scan (r13 fused the two). All
    * keys carry doc_id: the shuffle parallelizes by document and no
    * corpus-global state exists. Linear, skew-free (a doc's group
    * count ≤ its token count). The divisions are the same
    * integer-ratio IEEE ops as the two-scan form — bit-identical. */
  def t34GopherRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a", "of", "to", "in", "and", "is")
    val hist = documents(s, d)
      .select($"doc_id", explode(toks($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
    hist.groupBy($"doc_id").agg(
        sum($"c").as("n_words"),
        max($"c").as("top_c"),
        sum(length($"w").cast("long") * $"c").as("n_chars"),
        sum(when($"w".rlike("[A-Za-z]"), $"c").otherwise(0L)).as("n_alpha"),
        sum(when($"w".isInCollection(stop), $"c").otherwise(0L)).as("stop_hits"))
      .select($"doc_id", $"n_words",
        ($"n_chars".cast("double") / $"n_words").as("mean_word_len"),
        ($"n_alpha".cast("double") / $"n_words").as("frac_alpha"),
        $"stop_hits",
        ($"top_c".cast("double") / $"n_words").as("top_share"))
      .select($"doc_id", $"n_words",
        round($"mean_word_len", 6).as("mean_word_len_r"),
        round($"frac_alpha", 6).as("frac_alpha_r"),
        $"stop_hits", round($"top_share", 6).as("top_share_r"),
        ($"n_words" >= 50 && $"n_words" <= 100000).as("r_len"),
        ($"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0).as("r_mwl"),
        ($"frac_alpha" >= 0.8).as("r_alpha"),
        ($"stop_hits" >= 2).as("r_stop"),
        ($"top_share" <= 0.1).as("r_rep"))
      .withColumn("gopher_pass",
        $"r_len" && $"r_mwl" && $"r_alpha" && $"r_stop" && $"r_rep")
  }

  /** Flags are computed from UNROUNDED doubles on both sides; every
    * input is an exact small integer, so the IEEE-754 divisions agree
    * bit-for-bit across engines (the t19 precedent). */
  val t34Sql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |         len(replace(text, ' ', '')) AS n_alpha_chars
      |  FROM documents
      |), perdoc AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS n_words,
      |    n_alpha_chars * 1.0 / len(t) AS mean_word_len,
      |    len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
      |      / len(t) AS frac_alpha,
      |    CAST(len(list_filter(t, w -> w = 'the' OR w = 'a' OR w = 'of'
      |      OR w = 'to' OR w = 'in' OR w = 'and' OR w = 'is')) AS BIGINT)
      |      AS stop_hits
      |  FROM base
      |), tok AS (
      |  SELECT doc_id, unnest(t) AS w FROM base
      |), ts AS (
      |  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_share FROM (
      |    SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2
      |  ) GROUP BY doc_id
      |)
      |SELECT p.doc_id, p.n_words,
      |  ROUND(p.mean_word_len, 6) AS mean_word_len_r,
      |  ROUND(p.frac_alpha, 6) AS frac_alpha_r,
      |  p.stop_hits, ROUND(ts.top_share, 6) AS top_share_r,
      |  p.n_words >= 50 AND p.n_words <= 100000 AS r_len,
      |  p.mean_word_len >= 3.0 AND p.mean_word_len <= 10.0 AS r_mwl,
      |  p.frac_alpha >= 0.8 AS r_alpha,
      |  p.stop_hits >= 2 AS r_stop,
      |  ts.top_share <= 0.1 AS r_rep,
      |  (p.n_words >= 50 AND p.n_words <= 100000)
      |    AND (p.mean_word_len >= 3.0 AND p.mean_word_len <= 10.0)
      |    AND p.frac_alpha >= 0.8 AND p.stop_hits >= 2
      |    AND ts.top_share <= 0.1 AS gopher_pass
      |FROM perdoc p JOIN ts USING (doc_id)""".stripMargin

  // ---- t35: n-gram novelty (first-owner attribution) ----

  /** t35: per-document n-gram NOVELTY — the fraction of a document's
    * distinct word-3-grams whose first owner (minimum doc_id over the
    * corpus) is the document itself. The dual of the duplication
    * family: d03-style overlap asks "how much of this doc is shared",
    * novelty asks "how much did this doc ADD when it arrived" — the
    * marginal-contribution score dataset ablations and dedup-ordering
    * decisions read (a doc with novelty ≈ 0 is fully covered by
    * earlier data regardless of whether any single earlier doc clears
    * a Jaccard bar).
    *
    * Scale: shingles are hashed per-row (the d03 machinery), the
    * first-owner table is one groupBy(shingle hash) min — map-side
    * combined, no skew beyond shingle popularity (a flooded shingle
    * still reduces to ONE (sg, min) row) — and the attribution join is
    * equi-keyed on the shingle hash with per-doc ratios reduced by
    * doc_id. Two narrow shuffles, both linear in distinct shingle
    * mass; nothing corpus-global, no window. */
  def t35NgramNovelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = documents(s, d)
      .select($"doc_id", explode(Dedup.shingleHashes($"text")).as("sg"))
    val firstOwner = ex.groupBy($"sg").agg(min($"doc_id").as("first_doc"))
    ex.join(firstOwner, Seq("sg"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        round($"n_novel".cast("double") / $"n_shingles", 6).as("novelty_r"))
  }

  /** Oracle on the raw 3-gram strings (the engine hashes them; counts
    * and min-owners agree — the d03 equivalence). */
  val t35Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |           for i in range(1, len(t)-1)]) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM sh
      |), fo AS (
      |  SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY s
      |)
      |SELECT ex.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN fo.first_doc = ex.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  ROUND(SUM(CASE WHEN fo.first_doc = ex.doc_id THEN 1 ELSE 0 END)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_r
      |FROM ex JOIN fo USING (s)
      |GROUP BY ex.doc_id""".stripMargin

  // ---- t37: vocabulary coverage curve ----

  /** t37: per-source vocabulary coverage — how many distinct types are
    * needed to cover 50 / 90 / 99% of the source's token mass (types
    * ranked by count, ties broken by the word itself for a total
    * order). The tokenizer-design diagnostic behind vocab-size commits
    * (a source whose n99 ≈ its full vocabulary is heavy-tailed — BPE
    * earns its keep there; one whose n50 is tiny is template-dominated)
    * and the drilldown behind t36's drift alarms.
    *
    * All threshold tests are integer cross-multiplications
    * (cum·100 ≥ pct·N_s) — no float ranks, deterministic at any
    * parallelism. Scale: one explode + a (source, word)-keyed count
    * (map-side combined), then a per-source window over the TYPE table
    * (vocab rows, not token rows) — the same per-group running-sum
    * shape as t12/c10, never a global order. */
  def t37CoverageCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy($"source").orderBy($"c".desc, $"w".asc)
    val types = documents(s, d)
      .select($"source", explode(toks($"text")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("cum", sum($"c").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_s", sum($"c").over(Window.partitionBy($"source")))
    types.groupBy($"source")
      .agg(max($"rn").as("vocab_size"),
        max($"n_s").as("n_tokens"),
        min(when($"cum" * 100 >= $"n_s" * 50, $"rn")).as("n50"),
        min(when($"cum" * 100 >= $"n_s" * 90, $"rn")).as("n90"),
        min(when($"cum" * 100 >= $"n_s" * 99, $"rn")).as("n99"))
  }

  val t37Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      |), ty AS (
      |  SELECT source, w, COUNT(*) AS c FROM tok WHERE len(w) > 0 GROUP BY 1, 2
      |), ranked AS (
      |  SELECT source, c,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS rn,
      |    SUM(c) OVER (PARTITION BY source ORDER BY c DESC, w ASC
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(c) OVER (PARTITION BY source) AS n_s
      |  FROM ty
      |)
      |SELECT source,
      |  CAST(MAX(rn) AS BIGINT) AS vocab_size,
      |  CAST(MAX(n_s) AS BIGINT) AS n_tokens,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_s * 50 THEN rn END) AS BIGINT) AS n50,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_s * 90 THEN rn END) AS BIGINT) AS n90,
      |  CAST(MIN(CASE WHEN cum * 100 >= n_s * 99 THEN rn END) AS BIGINT) AS n99
      |FROM ranked GROUP BY source""".stripMargin

  // ---- t36: per-source distribution drift (total variation) ----

  /** t36: how far each source's unigram distribution sits from the
    * corpus mixture — total variation distance TVD(p_s, q) =
    * ½ Σ_w |p_s(w) − q(w)|. The drift diagnostic behind mixing
    * decisions (c03/c08 weights assume sources are what they were) and
    * the cheap monitor for ingest regressions (a source whose TVD
    * jumps changed register, language mix, or got polluted).
    * KL is the textbook choice but needs logs (transcendental →
    * cross-engine unsafe, the t21/t25 lesson) and is undefined on
    * zero-mass words; TVD is bounded, symmetric, zero-safe — and its
    * numerator is EXACT INTEGER arithmetic:
    *
    *   TVD(s) = [ Σ_{w∈s} |c_ws·N − c_w·N_s| + (N − M_s)·N_s ] / (2·N_s·N)
    *
    * where c_ws/c_w are source/corpus counts, N_s/N token totals, and
    * M_s = Σ_{w∈s} c_w covers the words s never emits (each
    * contributes q(w) alone). Integer sums are order-free, so the one
    * division at the end (+ round 6) is deterministic at any
    * parallelism — full SQL oracle, no golden needed. The numerator
    * products (c_ws·N, c_w·N_s, (N−M_s)·N_s) run in DECIMAL(38,0):
    * BIGINT wraps (or, under ANSI, throws) once c_ws·N crosses ~10^19
    * — true at the declared 100 TB design point (N ~ 10^14) — while
    * the decimal lane is exact to 10^38. DuckDB's side computes the
    * same products in HUGEINT, and the final division happens in
    * double on both engines, so fixture hashes are unchanged.
    *
    * Scale: one explode + two partial-aggregated groupBys (by
    * (source, w) and by w) + one equi-join on the word — all linear in
    * token mass, shuffle keys word-salted by nature (vocabulary), and
    * the per-source reduce carries one integer per source. */
  def t36SourceDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = documents(s, d)
      .select($"source", explode(toks($"text")).as("w"))
      .filter(length($"w") > 0)
    val sw = tok.groupBy($"source", $"w").agg(count(lit(1)).as("c_ws"))
    val cw = tok.groupBy($"w").agg(count(lit(1)).as("c_w"))
    val ns = sw.groupBy($"source").agg(sum($"c_ws").as("n_s"))
    // the corpus total as a 1-row aggregate frame, broadcast-cross-
    // joined IN the plan (the oracle's tot CTE) — not collected at
    // DataFrame-construction time, which both re-ran the token
    // explode eagerly per invocation and NPE'd on an empty corpus
    val tot = cw.agg(sum($"c_w").as("n_tot"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    sw.join(cw, Seq("w"))
      .join(ns, Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy($"source")
      .agg(max($"n_s").as("n_tokens"),
        sum(abs(dec($"c_ws") * dec($"n_tot") - dec($"c_w") * dec($"n_s")))
          .as("present_num"),
        sum($"c_w").as("m_s"),
        max($"n_tot").as("n_tot"))
      .select($"source", $"n_tokens",
        round(($"present_num" + dec($"n_tot" - $"m_s") * dec($"n_tokens"))
          .cast("double") / (lit(2.0) * $"n_tokens" * $"n_tot"), 6).as("tvd_r"))
  }

  /** N rides into the plan as a broadcast 1-row aggregate on both sides
    * (DuckDB: the tot CTE); every sum is integer-exact before the one
    * division. */
  val t36Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      |), tok2 AS (
      |  SELECT source, w FROM tok WHERE len(w) > 0
      |), sw AS (
      |  SELECT source, w, COUNT(*) AS c_ws FROM tok2 GROUP BY 1, 2
      |), cw AS (
      |  SELECT w, COUNT(*) AS c_w FROM tok2 GROUP BY 1
      |), ns AS (
      |  SELECT source, CAST(SUM(c_ws) AS BIGINT) AS n_s FROM sw GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw
      |)
      |SELECT sw.source, ns.n_s AS n_tokens,
      |  ROUND(CAST(CAST(SUM(ABS(sw.c_ws * tot.n - cw.c_w * ns.n_s)) AS BIGINT)
      |          + (tot.n - CAST(SUM(cw.c_w) AS BIGINT)) * ns.n_s AS DOUBLE)
      |        / (2.0 * ns.n_s * tot.n), 6) AS tvd_r
      |FROM sw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN tot
      |GROUP BY sw.source, ns.n_s, tot.n""".stripMargin

  /** t39: unigram-surprisal fluency score — the CCNet-style "how
    * LM-plausible is this document" quality signal, scored against a
    * unigram model fit on the corpus itself. Per token the model cost
    * is −log2 p(w) = log2(N/c_w); the classic form is transcendental
    * (cross-engine unsafe, the t21/t25 lesson), so t39 scores each
    * token with the integer class ⌊log2 N⌋ − ⌊log2 c_w⌋ — computed as
    * length(bin(N)) − length(bin(c_w)), exact in ANY engine with a
    * binary-string primitive and within ±1 bit of true log2(N/c_w).
    * Rare-token-heavy gibberish scores high, stopword soup scores near
    * zero; per-doc output is (n_tok, surprisal_sum, mean) with the sum
    * an exact BIGINT (≤ 64·n_tok, safe past 10^17 tokens/doc).
    *
    * Scale: per-(doc,token) counts first (map-side combine collapses
    * each doc's repeats before anything shuffles), vocab as a second
    * partial aggregate OVER that frame (no second corpus scan), N as a
    * broadcast 1-row aggregate (the t36 discipline — no driver
    * action). The token-keyed model join is Zipf-skewed by nature;
    * stopword keys are exactly what AQE skew-join splits, and the
    * per-doc rollup restores doc_id keying. No global sort, no window,
    * no collect: a 10^8-row vocab at 100 TB stays a distributed join
    * side, never a broadcast or a driver structure. */
  def t39UnigramSurprisal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDocTok = documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("k"))
    val vocab = perDocTok.groupBy($"tok").agg(sum($"k").as("c"))
    val tot = vocab.agg(sum($"c").as("n_total"))
    perDocTok.join(vocab, "tok")
      .crossJoin(broadcast(tot))
      .select($"doc_id", $"k",
        (length(bin($"n_total")) - length(bin($"c"))).cast("long").as("s_cls"))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_tok"), sum($"k" * $"s_cls").as("surprisal_sum"))
      .select($"doc_id", $"n_tok", $"surprisal_sum",
        round($"surprisal_sum".cast("double") / $"n_tok", 6)
          .as("mean_surprisal_r"))
  }

  val t39Sql: String =
    """WITH pdt AS (
      |  SELECT doc_id, tok, COUNT(*) AS k
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2
      |), vocab AS (
      |  SELECT tok, CAST(SUM(k) AS BIGINT) AS c FROM pdt GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM vocab
      |)
      |SELECT p.doc_id,
      |  CAST(SUM(p.k) AS BIGINT) AS n_tok,
      |  CAST(SUM(p.k * (len(bin(t.n_total)) - len(bin(v.c)))) AS BIGINT)
      |    AS surprisal_sum,
      |  ROUND(CAST(SUM(p.k * (len(bin(t.n_total)) - len(bin(v.c))))
      |          AS DOUBLE) / SUM(p.k), 6) AS mean_surprisal_r
      |FROM pdt p JOIN vocab v USING (tok) CROSS JOIN tot t
      |GROUP BY p.doc_id""".stripMargin

  // ---- t40: declared vs detected language — mislabel audit ----

  /** t40: declared-language vs detected-language confusion matrix —
    * m16's planted-canary discipline on the TEXT lane. Mislabeled
    * `lang` metadata is the most common upstream defect a mixing plan
    * (c03/c08 weight by declared lang) silently inherits: the mix
    * trains on the wrong language balance and nobody sees it until
    * eval. The audit crosses the DECLARED label against t03's
    * detector ([[langPredCol]]) and reports per (declared, detected)
    * cell: doc count, token mass, and how many of the cell's docs are
    * PLANTED mislabels — the reconciliation column that splits
    * off-diagonal mass into metadata lies vs detector disagreement.
    *
    * Fixture: the corpus's `lang` column is trusted ground truth, so —
    * the c22/m16 canary recipe — mislabels are planted
    * deterministically: doc_id ≡ 0 (mod 13; coprime to the 5-language
    * wheel and the 20-source cycle) rotates the declared label one
    * step around ['en','de','fr','es','zh']. The planted rule is pure
    * SQL, so the whole audit (rotation, detection, matrix, masses) is
    * DuckDB-oracled end to end; TextAnalysisSpec reconciles the
    * off-diagonal per-doc. On a real corpus `declared` IS the metadata
    * column and `n_planted` drops out.
    *
    * Scale: detection + rotation are per-row codegen expressions; the
    * only exchange is the ≤ |langs|·|detected|-key rollup with
    * map-side combine. Token mass is a linear BIGINT sum. */
  def t40LangMismatchAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wheel = typedLit(Seq("en", "de", "fr", "es", "zh"))
    val idx = array_position(wheel, $"lang") // 1-based
    val rotated = element_at(wheel, ((idx % 5) + 1).cast("int"))
    val planted = $"doc_id" % 13 === 0
    val declared = when(planted, rotated).otherwise($"lang")
    documents(s, d)
      .select(declared.as("declared"),
        langPredCol($"text").as("detected"),
        size(split($"text", " ")).cast("long").as("n_tok"),
        planted.cast("long").as("pl"))
      .groupBy($"declared", $"detected")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("token_mass"),
        sum($"pl").as("n_planted"))
      .withColumn("mismatch", $"declared" =!= $"detected")
  }

  /** Oracle: the identical plant → detect → rollup pipeline in SQL
    * (t03's detector CASE verbatim, the m16 rotation recipe). */
  val t40Sql: String =
    """WITH p AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |    CASE WHEN doc_id % 13 = 0 THEN
      |      ['en','de','fr','es','zh'][
      |        CAST(list_position(['en','de','fr','es','zh'], lang) % 5
      |          AS INTEGER) + 1]
      |    ELSE lang END AS declared,
      |    doc_id % 13 = 0 AS planted
      |  FROM documents
      |), det AS (
      |  SELECT declared, planted, len(t) AS n_tok,
      |    CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
      |         WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
      |         WHEN fr >= es AND fr > 0 THEN 'fr'
      |         WHEN es > 0 THEN 'es'
      |         ELSE 'und' END AS detected
      |  FROM (
      |    SELECT declared, planted, t,
      |      len(list_filter(t, x -> list_contains(['the','a','of','and'], x))) AS en,
      |      len(list_filter(t, x -> list_contains(['der','die','das','und'], x))) AS de,
      |      len(list_filter(t, x -> list_contains(['le','la','les','et'], x))) AS fr,
      |      len(list_filter(t, x -> list_contains(['el','los','las','y'], x))) AS es
      |    FROM p)
      |)
      |SELECT declared, detected, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS token_mass,
      |  CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
      |  declared <> detected AS mismatch
      |FROM det GROUP BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t41_bm25_persisted" -> (t41Bm25Persisted _),
    "t40_lang_mismatch"  -> (t40LangMismatchAudit _),
    "t39_unigram_surprisal" -> (t39UnigramSurprisal _),
    "t38_repetition_signals" -> (t38RepetitionSignals _),
    "t34_gopher_rules"   -> (t34GopherRules _),
    "t35_ngram_novelty"  -> (t35NgramNovelty _),
    "t36_source_drift"   -> (t36SourceDrift _),
    "t37_coverage_curve" -> (t37CoverageCurve _),
    "t32_tokenizer_report" -> (t32TokenizerReport _),
    "t30_bpe_encode"     -> (t30BpeEncode _),
    "t29_bpe_train"      -> (t29BpeTrain _),
    "t28_sketch_profile" -> (t28SketchProfile _),
    "t27_rrf_fusion"    -> (t27RrfFusion _),
    "t26_chunk_windows" -> (t26ChunkWindows _),
    "t25_bm25"          -> (t25Bm25 _),
    "t24_hash_classifier" -> (t24HashClassifier _),
    "t23_normalize"     -> (t23Normalize _),
    "t22_gopher_rules"  -> (t22GopherRules _),
    "t33_distinct_ngrams" -> (t33DistinctNgrams _),
    "t21_lm_quality"    -> (t21LmQuality _),
    "t20_heavy_hitters" -> (t20HeavyHitters _),
    "t19_approx_quantiles" -> (t19ApproxQuantiles _),
    "t18_tfidf_terms"  -> (t18TfidfTerms _),
    "t17_novelty"      -> (t17Novelty _),
    "t16_merge_pairs"  -> (t16MergePairs _),
    "t13_term_topk"    -> (t13TermTopk _),
    "t14_length_histogram" -> (t14LengthHistogram _),
    "t07_bpe_tokens"   -> (t07BpeTokens _),
    "t08_modp_fingerprint" -> (t08ModpFingerprint _),
    "t09_deterministic_split" -> (t09DeterministicSplit _),
    "t01_token_stats"  -> (t01TokenStats _),
    "t02_quality"      -> (t02QualityScore _),
    "t03_lang_id"      -> (t03LangId _),
    "t04_fingerprint"  -> (t04Fingerprint _),
    "t05_corpus_stats" -> (t05CorpusStats _),
    "t06_approx_stats" -> (t06ApproxStats _),
  )

  // def, not val: the golden-snapshot oracle path resolves the sf tag
  // at dump time (GoldenGen.setSfTag), after object initialization
  def oracles: Map[String, String] = Map(
    // t41 ≡ t25 bit-identically (same expressions over the persisted
    // postings; integer tf/dl round-trip parquet exactly) → t25's own
    // golden hash-checks the persisted round-trip, the s17≡s03 move
    "t41_bm25_persisted" -> graft.GoldenGen.oracle("t25_bm25"),
    "t40_lang_mismatch"  -> t40Sql,
    "t39_unigram_surprisal" -> t39Sql,
    "t38_repetition_signals" -> t38Sql,
    "t34_gopher_rules"   -> t34Sql,
    "t35_ngram_novelty"  -> t35Sql,
    "t36_source_drift"   -> t36Sql,
    "t37_coverage_curve" -> t37Sql,
    // t29: pure integer counts + total-order tie-breaks make training
    // bit-deterministic (probed at two parallelisms before promotion);
    // the loop itself is engine-side → golden snapshot, hand-pinned
    // worked example in the spec
    "t29_bpe_train"      -> graft.GoldenGen.oracle("t29_bpe_train"),
    // t30: deterministic composition of t29's table with a pure
    // per-row encode; the token-sequence hash is engine-side xxhash64
    // → golden snapshot, worked examples (incl. the rank-revisit
    // subtlety) hand-pinned in the spec
    "t30_bpe_encode"     -> graft.GoldenGen.oracle("t30_bpe_encode"),
    // t32: integer aggregates of t30's engine-side counts + 6dp ratios
    // → golden like its input; cross-checked against t30 in spec
    "t32_tokenizer_report" -> graft.GoldenGen.oracle("t32_tokenizer_report"),
    // t28: engine-specific sketch hashing (Datasketches HLL) →
    // golden-hashed; estimates are integer and the register-max algebra
    // makes them invariant to batch slicing and partitioning
    // (TextAnalysisSpec pins both + the accuracy envelope)
    "t28_sketch_profile" -> graft.GoldenGen.oracle("t28_sketch_profile"),
    // t26: pure integer arithmetic + list slicing → full SQL oracle
    "t26_chunk_windows" -> t26Sql,
    // t25: ln() is transcendental (cross-engine unsafe) → golden-hashed,
    // the t21 discipline; per-term 6dp rounding + exact decimal sums
    // make the snapshot parallelism-independent, relevance pinned in spec
    "t25_bm25"          -> graft.GoldenGen.oracle("t25_bm25"),
    // t27: fuses t25's ranks → inherits the ln() cross-engine caveat;
    // fusion arithmetic itself is exact (integer ranks, 6dp terms,
    // Det.dsum) and parallelism-invariance is probed
    "t27_rrf_fusion"    -> graft.GoldenGen.oracle("t27_rrf_fusion"),
    // t24: weights derive from xxhash64 buckets (engine-specific,
    // deterministic — the t08 precedent) → golden snapshot; arithmetic
    // re-derived independently in TextAnalysisSpec
    "t24_hash_classifier" -> graft.GoldenGen.oracle("t24_hash_classifier"),
    "t23_normalize"     -> t23Sql,
    "t22_gopher_rules"  -> t22Sql,
    "t33_distinct_ngrams" -> t33Sql,
    // t21: log2 is transcendental (cross-engine unsafe) → golden-hashed;
    // partition invariance engineered via quantized decimal term sums.
    "t21_lm_quality"    -> graft.GoldenGen.oracle("t21_lm_quality"),
    // t20: deterministic fixed-seed sketch, engine-specific hashes →
    // golden-hashed; overestimate-only + error bounds in TextAnalysisSpec.
    "t20_heavy_hitters" -> graft.GoldenGen.oracle("t20_heavy_hitters"),
    "t19_approx_quantiles" -> t19Sql,
    "t18_tfidf_terms"  -> t18Sql,
    "t17_novelty"      -> t17Sql,
    "t16_merge_pairs"  -> t16Sql,
    "t13_term_topk"    -> t13Sql,
    "t14_length_histogram" -> t14Sql,
    "t07_bpe_tokens"   -> t07Sql,
    "t09_deterministic_split" -> t09Sql,
    // t08: engine-specific hashing, but deterministic → golden-snapshot
    // hard check (see graft.GoldenGen) + ScalaTest near-dup overlap.
    "t08_modp_fingerprint" -> graft.GoldenGen.oracle("t08_modp_fingerprint"),
    "t01_token_stats"  -> t01Sql,
    "t02_quality"      -> t02Sql,
    "t03_lang_id"      -> t03Sql,
    "t04_fingerprint"  -> t04Sql,
    "t05_corpus_stats" -> t05Sql,
    // t06: approximate SKETCHES, deterministic results (HLL max-merge,
    // quantile-sketch merge probed across parallelisms) → golden-hashed.
    "t06_approx_stats" -> graft.GoldenGen.oracle("t06_approx_stats"),
  )
}
