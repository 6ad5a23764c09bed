package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Training-data curation operators beyond dedup/similarity: benchmark
  * decontamination, PII redaction, repetition-based quality signals,
  * and context-window packing — the remaining pieces a pretraining
  * data pipeline runs between raw corpus and tokenizer.
  *
  * Scale notes: d07 broadcasts the (small) benchmark shingle set and
  * streams the corpus — one shuffle for the per-pair count. t10/t11 are
  * per-row expression work, shuffle-free. t12 packs within (lang)
  * partitions — a global document order never materializes on one node.
  */
object Curation {

  /** d07: benchmark decontamination. Flags corpus documents sharing ≥ 3
    * word-3-gram shingles with any "benchmark" document (stand-in set:
    * doc_id < 20) — the n-gram-overlap contamination check run before
    * training so eval data is not memorized. The benchmark side is tiny
    * by construction (benchmarks are thousands of rows, corpora are
    * billions) → broadcast; the corpus side streams and aggregates on
    * (doc, bench) once. */
  def d07Decontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = documents(s, d)
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    contaminationCounts(
      sh.filter($"doc_id" >= 20).select($"doc_id", explode($"sh").as("sg")),
      sh.filter($"doc_id" < 20)
        .select($"doc_id".as("bench_id"), explode($"sh").as("sg")))
  }

  /** d16: Bloom-prefiltered decontamination — d07's exact semantics on
    * the 100 TB plan. d07 explodes EVERY corpus doc's shingles into the
    * broadcast join: fine per-row, but the exploded row mass is the
    * corpus's total shingle count, and virtually all of it matches
    * nothing (real corpora are overwhelmingly clean). d16 inserts the
    * classic two-phase membership structure: the benchmark's shingle
    * hashes — small by the same premise that lets d07 broadcast them —
    * are folded into a Bloom filter on the driver (bit-OR build,
    * order-free ⇒ deterministic), shipped in the task binary, and each
    * corpus doc is tested with ONE native per-row call over its whole
    * shingle array ([[graft.functions.BloomHitsAtLeast]] — no explode,
    * no shuffle, stays inside WholeStageCodegen, early-exit at the
    * 3rd hit). The ≥ 3-shared-shingles rule implies ≥ 3 distinct
    * hashes in the union Bloom set, so filtering at minHits = 3 admits
    * every doc the exact rule can flag — NO false negatives — while
    * pruning docs sharing only a stray boilerplate shingle. Flagged
    * docs proceed to d07's exact explode + broadcast join, which
    * discards the false positives, so the composition is EXACTLY d07 — same oracle —
    * while the exploded/joined row mass shrinks from "all shingles in
    * the corpus" to "shingles of flagged docs".
    *
    * The driver-side collect is of BENCHMARK shingle hashes (the d07
    * broadcast-side smallness premise, ~8 B/shingle); at larger bench
    * sets the same bits can be built distributed (per-partition OR,
    * then OR the partials) — the build is an order-free fold either
    * way. */
  def d16BloomDecontamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"text")
    bloomContaminationCounts(docs.filter($"doc_id" >= 20), docs.filter($"doc_id" < 20))
  }

  /** Frame-taking core of d16: corpus and benchmark as (doc_id, text)
    * frames, so specs can measure the prefilter's pruning power on a
    * controlled corpus (the shared-fixture vocabulary is deliberately
    * dense — most docs share boilerplate trigrams — which bounds what
    * any membership prefilter can prune THERE; on a disjoint-vocabulary
    * corpus, the realistic shape, pruning is near-total). */
  private[graft] def bloomContaminationCounts(corpus: DataFrame, bench: DataFrame,
                                              minShared: Int = 3): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    def shingled(df: DataFrame) = df
      .select($"doc_id", Dedup.shingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
    val benchSh = shingled(bench)
    val bits = graft.functions.BloomBits.build(
      benchSh.select(explode($"sh").as("sg")).distinct().as[Long].collect())
    val flagged = shingled(corpus)
      .filter(graft.functions.BloomHitsAtLeast($"sh", bits, 4, minShared))
    contaminationCounts(
      flagged.select($"doc_id", explode($"sh").as("sg")),
      benchSh.select($"doc_id".as("bench_id"), explode($"sh").as("sg")),
      minShared)
  }

  /** The contamination rule both d07 and c01 apply: corpus docs sharing
    * ≥ `minShared` shingles with any benchmark doc. Inputs are exploded
    * (doc_id, sg) / (bench_id, sg) frames; bench side broadcast. */
  private[graft] def contaminationCounts(corpusEx: DataFrame, benchEx: DataFrame,
                                         minShared: Int = 3): DataFrame = {
    import corpusEx.sparkSession.implicits._
    corpusEx.join(broadcast(benchEx), "sg")
      .groupBy($"doc_id", $"bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= minShared)
  }

  /** Shingle sets are distinct per doc, so the per-pair row count IS the
    * intersection size (same identity d03 uses). The oracle rebuilds the
    * 3-gram sets as strings; Spark compares 64-bit shingle hashes —
    * collision-free at these set sizes in practice (d03's contract). */
  val d07Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |           for i in range(1, len(t)-1)]) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM sh
      |)
      |SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
      |FROM ex c JOIN ex b ON c.s = b.s
      |WHERE b.doc_id < 20 AND c.doc_id >= 20
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 3""".stripMargin

  /** t10: PII redaction — regexp-scrub emails and long digit runs, with
    * counts per category and a content hash of the redacted text (the
    * auditable artifact: same hash ⇒ same redaction output). Patterns
    * are kept in the RE2 ∩ java.util.regex dialect so the oracle runs
    * them verbatim. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val LongNumRe = "[0-9]{6,}"

  def t10PiiRedaction(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val redacted = regexp_replace(
      regexp_replace($"text", EmailRe, "<EMAIL>"), LongNumRe, "<NUM>")
    documents(s, d).select(
      $"doc_id",
      regexp_count($"text", lit(EmailRe)).as("n_emails"),
      regexp_count($"text", lit(LongNumRe)).as("n_longnums"),
      sha2(redacted, 256).as("redacted_sha"))
  }

  val t10Sql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$LongNumRe')) AS n_longnums,
       |  sha256(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |         '$LongNumRe', '<NUM>', 'g')) AS redacted_sha
       |FROM documents""".stripMargin

  /** t11: repetition ratio (the Gopher-style quality signal): fraction
    * of word-3-grams that are repeats of an earlier trigram in the same
    * document. High ratio ⇒ boilerplate/looping text. Distinct counting
    * rides the native [[graft.functions.ShingleHashes]] (one pass, no
    * interpreted HOF); total trigrams is plain arithmetic. */
  def t11RepetitionRatio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nTok = size(split($"text", " "))
    val nTri = (nTok - 2).cast("double")
    val nDistinct = size(Dedup.shingleHashes($"text"))
    documents(s, d)
      .filter(nTok >= 3)
      .select($"doc_id",
        nTri.cast("int").as("n_trigrams"),
        nDistinct.as("n_distinct"),
        round(lit(1.0) - nDistinct / nTri, 6).as("rep_ratio"))
  }

  val t11Sql: String =
    """SELECT doc_id,
      |  CAST(len(t) - 2 AS INTEGER) AS n_trigrams,
      |  CAST(len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |       for i in range(1, len(t)-1)])) AS INTEGER) AS n_distinct,
      |  ROUND(1.0 - len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |       for i in range(1, len(t)-1)])) / CAST(len(t) - 2 AS DOUBLE), 6) AS rep_ratio
      |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |WHERE len(t) >= 3""".stripMargin

  /** t12: context-window packing — the concat-then-chunk layout
    * pretraining uses: documents are laid end-to-end in a deterministic
    * order and cut into fixed 512-token windows; pack_id is the window
    * each document STARTS in. Packing runs per language partition, so
    * the running sum parallelizes by group instead of forcing a global
    * single-node order (at 100 TB you shard further, e.g. by
    * (lang, t09-style hash bucket) — same code, finer key). */
  def t12TokenPacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val T = 512
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select($"lang", $"doc_id", size(split($"text", " ")).as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("pack_id", floor(($"cum" - $"n_tok") / T))
      .groupBy($"lang", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  val t12Sql: String =
    """SELECT lang, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM (
      |  SELECT lang, doc_id, n_tok,
      |    CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0) AS BIGINT) AS pack_id
      |  FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
      |)
      |GROUP BY 1, 2""".stripMargin

  // ---- c18: training-sequence manifest (concat-and-cut with splitting) ----

  /** c18: the SEQUENCE MANIFEST a training loader actually consumes —
    * t12 summarizes which window each document STARTS in; c18 emits
    * the full assignment under concat-and-cut WITH DOCUMENT SPLITTING:
    * documents are laid end-to-end per language in doc_id order and
    * cut into fixed 512-token sequences, and a document straddling a
    * boundary contributes one row PER sequence it overlaps, carrying
    * (doc_from = token offset within the doc, seq_off = position
    * within the sequence, n_toks = span length). Every token of every
    * document is covered exactly once — the loader reconstructs each
    * training sequence by concatenating its rows in seq_off order, and
    * provenance (which doc fed which positions of which sequence) is a
    * key lookup, which is what attribution and contamination tracing
    * need post-hoc.
    *
    * Scale: the running offset is a per-lang window (t12's shape — at
    * 100 TB shard the key finer, e.g. (lang, t09 hash bucket): same
    * code, no global order anywhere); the boundary explode is pure
    * per-row arithmetic (a doc overlaps ⌈n/512⌉ + 1 sequences at most,
    * so output mass ≈ input rows + token mass / 512); no join at all. */
  def c18SequenceManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val L = 512L
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select($"lang", $"doc_id",
        size(split($"text", " ")).cast("long").as("n_tok"))
      .withColumn("e", sum($"n_tok").over(w))
      .withColumn("s0", $"e" - $"n_tok")
      .select($"lang", $"doc_id", $"s0", $"e",
        // integral DIV, not floor(double /): offsets stay exact past
        // 2^53 tokens — "pure integer span algebra" holds at any scale
        explode(sequence(expr("s0 DIV 512"),
          expr("(e - 1) DIV 512"))).as("seq_id"))
      .select($"lang", $"seq_id", $"doc_id",
        (greatest($"s0", $"seq_id" * L) - $"s0").as("doc_from"),
        (greatest($"s0", $"seq_id" * L) - $"seq_id" * L).as("seq_off"),
        (least($"e", ($"seq_id" + 1) * L) - greatest($"s0", $"seq_id" * L))
          .as("n_toks"))
  }

  /** All arithmetic is exact integers; the window and the span algebra
    * are engine-portable, so the oracle is the same program in SQL. */
  val c18Sql: String =
    """WITH base AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents
      |), cum AS (
      |  SELECT lang, doc_id, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS e
      |  FROM base
      |), spans AS (
      |  -- SUM() OVER is HUGEINT in DuckDB; generate_series needs BIGINT
      |  SELECT lang, doc_id, CAST(e - n_tok AS BIGINT) AS s0,
      |         CAST(e AS BIGINT) AS e
      |  FROM cum
      |)
      |SELECT lang, seq_id, doc_id,
      |  GREATEST(s0, seq_id * 512) - s0 AS doc_from,
      |  GREATEST(s0, seq_id * 512) - seq_id * 512 AS seq_off,
      |  LEAST(e, (seq_id + 1) * 512) - GREATEST(s0, seq_id * 512) AS n_toks
      |FROM spans, UNNEST(generate_series(s0 // 512, (e - 1) // 512))
      |  AS u(seq_id)""".stripMargin

  // ---- c19: quality-threshold what-if sweep ----

  /** c19: the threshold-commit sweep — survivors and token mass under
    * each candidate quality cut, in ONE corpus pass. c01 hard-codes
    * quality ≥ 0.5; before committing a different cut a curation
    * review reads exactly this table (docs kept, token mass kept,
    * fraction) rather than re-running the pipeline per candidate.
    * Thresholding uses the 6dp-ROUNDED score on both engines (t02's
    * published `quality` column), so the comparisons are deterministic
    * and the sweep composes with t02/c01's semantics by construction.
    *
    * Scale: the score is a per-row expression; the sweep replicates
    * each doc once per candidate τ (5×) and reduces by τ — a
    * 5-key aggregate with map-side combine, no joins, no windows. */
  /** c20: mixture-diversity datasheet — how concentrated the corpus's
    * token mass is across sources, read BEFORE c03/c08 decide weights
    * (a mixture already dominated by one source needs rebalancing;
    * one already flat doesn't). Concentration is the Simpson index
    * λ = Σ_s p_s² over token shares — chosen over Shannon entropy
    * deliberately: λ's numerator is the EXACT integer Σ tok_s² against
    * denominator T², so the one final division (+ round 6) is
    * parallelism- and engine-proof (the t36 TVD discipline; entropy's
    * logs are transcendental → cross-engine unsafe, the t21/t25
    * lesson). Reported with its standard readings: 1/λ = effective
    * source count (the "how many sources does this mixture really
    * have" number), max share, and the Herfindahl-style top-1 ratio.
    *
    * Scale: one explode-free scan (token counts are per-row size()),
    * one map-side-combined per-source aggregate over |sources| rows,
    * one single-row reduce — no join, no window, nothing
    * corpus-quadratic. The squared terms (Σ tok_s², T²) run in
    * DECIMAL(38,0) — BIGINT wraps (or, under ANSI, throws) past
    * ~3·10^9 tokens per source, and a 100 TB corpus holds ~10^13; the
    * decimal lane is exact to 10^38, i.e. ~10^19 tokens per source.
    * DuckDB computes the same numerator in HUGEINT, and every integer
    * here is far below 2^53, so the one final double division matches
    * bit-for-bit. Per-source totals themselves stay BIGINT (linear in
    * corpus mass: safe to ~9·10^18). */
  def c20MixtureDiversity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perSource = documents(s, d)
      .select($"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("tok_s"))
    val dec = $"tok_s".cast("decimal(38,0)")
    perSource.agg(
        count(lit(1)).as("n_sources"),
        sum($"tok_s").as("total_tokens"),
        sum(dec * dec).as("sq"),
        max($"tok_s").as("max_tok"))
      .select($"n_sources", $"total_tokens",
        round($"sq".cast("double") /
          ($"total_tokens".cast("decimal(38,0)") *
           $"total_tokens".cast("decimal(38,0)")).cast("double"), 6)
          .as("simpson_r"),
        round(($"total_tokens".cast("decimal(38,0)") *
               $"total_tokens".cast("decimal(38,0)")).cast("double") /
          $"sq".cast("double"), 6)
          .as("effective_sources_r"),
        round($"max_tok".cast("double") / $"total_tokens", 6)
          .as("max_share_r"))
  }

  val c20Sql: String =
    """WITH ps AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_s
      |  FROM documents GROUP BY 1
      |), agg AS (
      |  SELECT COUNT(*) AS n_sources,
      |    CAST(SUM(tok_s) AS BIGINT) AS total_tokens,
      |    CAST(SUM(tok_s * tok_s) AS BIGINT) AS sq,
      |    MAX(tok_s) AS max_tok
      |  FROM ps
      |)
      |SELECT n_sources, total_tokens,
      |  ROUND(CAST(sq AS DOUBLE) / (total_tokens * total_tokens), 6) AS simpson_r,
      |  ROUND(CAST(total_tokens * total_tokens AS DOUBLE) / sq, 6)
      |    AS effective_sources_r,
      |  ROUND(CAST(max_tok AS DOUBLE) / total_tokens, 6) AS max_share_r
      |FROM agg""".stripMargin

  // ---- c21: per-source token-mass yield through the curation funnel ----

  /** c21: the curation funnel in TOKEN terms, per source — token mass
    * entering each c01 stage and surviving it (raw → f1 lang+quality →
    * f2 exact-dedup → f3 near-dup → kept), plus the end-to-end yield
    * ratio. c02/c13 count DOCUMENTS; but mixing and budget decisions
    * (c03/c08/c10) are denominated in TOKENS, and the two tell
    * different stories whenever rejection correlates with length —
    * near-dup kills boilerplate (short), quality kills fragments, so a
    * source's doc yield and token yield can differ by 2×. This is the
    * table a capacity plan actually multiplies.
    *
    * Scale: rides [[c01CurationPipeline]]'s marks frame (one pipeline
    * pass — the stages are computed once, not once per stage column);
    * the rollup is a |sources|-key integer aggregate with map-side
    * combine. Token counts are per-row size(); sums are linear BIGINT
    * (exact to ~9·10^18 tokens). One double division per source at the
    * end, round 6 — full SQL oracle over the shared curation CTEs. */
  def c21TokenYield(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = documents(s, d).select($"doc_id", $"source", $"text")
    val marks = curationMarksOf(
      all.filter($"doc_id" >= 20), all.filter($"doc_id" < 20))._1
    // n_tok is a marks column now (one text pass, r19) — same
    // size(split(text,' ')) cast the rollup summed before
    val nTok = $"n_tok"
    def tokIf(m: org.apache.spark.sql.Column) =
      sum(when(m, nTok).otherwise(0L))
    marks.groupBy($"source")
      .agg(sum(nTok).as("tok_raw"),
        tokIf($"m_f1").as("tok_f1"),
        tokIf($"m_f2").as("tok_f2"),
        tokIf($"m_f3").as("tok_f3"),
        tokIf($"m_surv").as("tok_kept"))
      .select($"source", $"tok_raw", $"tok_f1", $"tok_f2", $"tok_f3",
        $"tok_kept",
        round($"tok_kept".cast("double") / $"tok_raw", 6).as("yield_r"))
  }

  // def: curationCtes initializes further down the object — a val here
  // would capture null at object init (the oracles map is itself a def)
  def c21Sql: String =
    s"""$curationCtes
       |, tok AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents d WHERE d.doc_id >= 20
       |)
       |SELECT source,
       |  CAST(SUM(n_tok) AS BIGINT) AS tok_raw,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM f1)
       |      THEN n_tok ELSE 0 END) AS BIGINT) AS tok_f1,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM f2)
       |      THEN n_tok ELSE 0 END) AS BIGINT) AS tok_f2,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM f2)
       |       AND doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |      THEN n_tok ELSE 0 END) AS BIGINT) AS tok_f3,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM f2)
       |       AND doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |       AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |      THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
       |  ROUND(CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM f2)
       |       AND doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |       AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |      THEN n_tok ELSE 0 END) AS DOUBLE) / SUM(n_tok), 6) AS yield_r
       |FROM tok GROUP BY source""".stripMargin

  // ---- c22: PII scrub audit via planted canaries ----

  /** The four detector classes c22 audits (kept, like t10's patterns, in
    * the RE2 ∩ java.util.regex dialect so the DuckDB oracle runs them
    * verbatim). t10 is the per-document scrub OPERATOR; c22 is the
    * CONTROL on top of it — the measurement that tells you the scrub
    * pipeline actually works before you trust it with a corpus. */
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private val Ipv4Re  = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val SsnRe   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** c22: PII scrub audit — canary-based recall measurement for the
    * redaction pipeline (the standard production control: plant KNOWN
    * synthetic PII, run the scrubber, verify every canary was caught and
    * nothing survives the scrub). Four detector classes (email, phone,
    * IPv4, SSN-shaped); canaries are planted deterministically from
    * doc_id (moduli 3/7/11/13 — coprime with the source cycle so every
    * source receives every class), so planted-vs-found is an exact
    * integer reconciliation, not a sample. Reported per source: docs,
    * planted/found per class, residual matches AFTER the scrub (the
    * "did anything leak" column — 0 on a correct scrubber), redacted
    * char mass, and overall recall. The injected-canary frame is the
    * audit fixture; on a real corpus the same detect/scrub columns run
    * on the raw text (t10's path) and `found - planted` reads as
    * organic PII incidence.
    *
    * The four patterns are mutually non-overlapping by construction
    * (phone 3-3-4 vs SSN 3-2-4 dash shapes reject each other at the
    * second group; IPv4 needs dots, emails need '@'), so scrub order
    * does not affect counts.
    *
    * Scale: one narrow (doc_id, source, text) scan; canary injection,
    * all eight regexp_counts, and the four-stage scrub are per-row
    * expressions inside WholeStageCodegen — the corpus never shuffles;
    * the only exchange is the final map-side-combined |sources|-key
    * aggregate. Counts are linear BIGINT sums (exact to ~9·10^18). */
  def c22PiiCanaryAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val canaryEmail = when($"doc_id" % 3 === 0,
      concat(lit(" contact user"), $"doc_id".cast("string"),
        lit("@example.com"))).otherwise(lit(""))
    val canaryPhone = when($"doc_id" % 7 === 0,
      concat(lit(" call 555-867-"),
        lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(lit(""))
    val canaryIp = when($"doc_id" % 11 === 0,
      concat(lit(" host 10.0."), ($"doc_id" % 256).cast("string"),
        lit("."), ($"doc_id" % 250).cast("string"))).otherwise(lit(""))
    val canarySsn = when($"doc_id" % 13 === 0,
      lit(" ssn 123-45-6789")).otherwise(lit(""))
    val dirty = concat($"text", canaryEmail, canaryPhone, canaryIp, canarySsn)
    val clean =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(dirty, SsnRe, "<SSN>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"),
        EmailRe, "<EMAIL>")
    def plantedC(m: Int) = sum(when($"doc_id" % m === 0, 1L).otherwise(0L))
    def foundC(re: String, col: Column) =
      sum(regexp_count(col, lit(re)).cast("long"))
    val marked = documents(s, d)
      .select($"doc_id", $"source", dirty.as("dirty"), clean.as("clean"))
    marked.groupBy($"source").agg(
        count(lit(1)).as("docs"),
        plantedC(3).as("planted_email"),
        foundC(EmailRe, $"dirty").as("found_email"),
        plantedC(7).as("planted_phone"),
        foundC(PhoneRe, $"dirty").as("found_phone"),
        plantedC(11).as("planted_ip"),
        foundC(Ipv4Re, $"dirty").as("found_ip"),
        plantedC(13).as("planted_ssn"),
        foundC(SsnRe, $"dirty").as("found_ssn"),
        (foundC(EmailRe, $"clean") + foundC(PhoneRe, $"clean") +
         foundC(Ipv4Re, $"clean") + foundC(SsnRe, $"clean"))
          .as("residual_after_scrub"),
        sum(length($"dirty") - length($"clean")).cast("long")
          .as("redacted_chars"))
      .withColumn("recall_r",
        when($"planted_email" + $"planted_phone" + $"planted_ip" +
             $"planted_ssn" > 0,
          round(($"found_email" + $"found_phone" + $"found_ip" +
                 $"found_ssn").cast("double") /
            ($"planted_email" + $"planted_phone" + $"planted_ip" +
             $"planted_ssn"), 6)))
  }

  def c22Sql: String =
    s"""WITH marked AS (
       |  SELECT doc_id, source,
       |    text
       |      || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
       |           || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       |      || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-'
       |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       |      || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.'
       |           || CAST(doc_id % 256 AS VARCHAR) || '.'
       |           || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
       |      || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
       |      AS dirty
       |  FROM documents
       |), scrubbed AS (
       |  SELECT doc_id, source, dirty,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      dirty, '$SsnRe', '<SSN>', 'g'),
       |      '$PhoneRe', '<PHONE>', 'g'),
       |      '$Ipv4Re', '<IP>', 'g'),
       |      '$EmailRe', '<EMAIL>', 'g') AS clean
       |  FROM marked
       |)
       |SELECT source,
       |  COUNT(*) AS docs,
       |  CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS planted_email,
       |  CAST(SUM(len(regexp_extract_all(dirty, '$EmailRe'))) AS BIGINT)
       |    AS found_email,
       |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS planted_phone,
       |  CAST(SUM(len(regexp_extract_all(dirty, '$PhoneRe'))) AS BIGINT)
       |    AS found_phone,
       |  CAST(SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS planted_ip,
       |  CAST(SUM(len(regexp_extract_all(dirty, '$Ipv4Re'))) AS BIGINT)
       |    AS found_ip,
       |  CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS planted_ssn,
       |  CAST(SUM(len(regexp_extract_all(dirty, '$SsnRe'))) AS BIGINT)
       |    AS found_ssn,
       |  CAST(SUM(len(regexp_extract_all(clean, '$EmailRe'))
       |     + len(regexp_extract_all(clean, '$PhoneRe'))
       |     + len(regexp_extract_all(clean, '$Ipv4Re'))
       |     + len(regexp_extract_all(clean, '$SsnRe'))) AS BIGINT)
       |    AS residual_after_scrub,
       |  CAST(SUM(len(dirty) - len(clean)) AS BIGINT) AS redacted_chars,
       |  CASE WHEN SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
       |          + SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
       |          + SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
       |          + SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END) > 0
       |    THEN ROUND(CAST(
       |        SUM(len(regexp_extract_all(dirty, '$EmailRe')))
       |      + SUM(len(regexp_extract_all(dirty, '$PhoneRe')))
       |      + SUM(len(regexp_extract_all(dirty, '$Ipv4Re')))
       |      + SUM(len(regexp_extract_all(dirty, '$SsnRe'))) AS DOUBLE) /
       |      (SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
       |     + SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
       |     + SUM(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
       |     + SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)), 6)
       |  END AS recall_r
       |FROM scrubbed GROUP BY source""".stripMargin

  // ---- c23: quality-filter agreement audit (Cohen's kappa) ----

  /** c23: inter-filter agreement — Cohen's κ between two independent
    * quality filters (t02's weighted-ratio score at its 0.5 keep cut vs
    * t34's Gopher composite), per source plus the '*' corpus row (the
    * m13 rollup shape). The question a curation owner asks before
    * swapping or stacking filters: do they agree beyond chance, and on
    * WHICH sources do they diverge (a source where κ collapses is where
    * one filter is measuring something the other can't see). The full
    * 2×2 confusion mass (n11/n10/n01/n00) ships alongside κ so the
    * disagreement is inspectable, not just summarized.
    *
    * Exactness: κ = (p_o − p_e)/(1 − p_e) is computed through the
    * integer identity κ = (n·(n11+n00) − B) / (n² − B) with
    * B = (n11+n10)(n11+n01) + (n01+n00)(n10+n00) — every term an exact
    * integer in DECIMAL(38,0) (the c20 discipline: n² wraps BIGINT past
    * ~3·10⁹ docs/source), one final double division, round 6. The
    * degenerate p_e = 1 case (both filters constant) yields NULL on
    * both engines.
    *
    * Scale: both filter columns are per-row/per-doc-histogram work the
    * corpus already runs (t02 is one expression; t34 is one doc-keyed
    * histogram aggregate); c23 adds two doc_id-keyed equi-joins and a
    * |sources|-key rollup. Nothing pairwise, nothing corpus². */
  def c23FilterAgreement(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qa = TextAnalysis.t02QualityScore(s, d).select($"doc_id", $"keep".as("fa"))
    val gb = TextAnalysis.t34GopherRules(s, d)
      .select($"doc_id", $"gopher_pass".as("fb"))
    val joined = documents(s, d).select($"doc_id", $"source")
      .join(qa, "doc_id").join(gb, "doc_id")
    def rollup(srcCol: Column) = joined.groupBy(srcCol.as("source")).agg(
      count(lit(1)).as("n"),
      sum(when($"fa" && $"fb", 1L).otherwise(0L)).as("n11"),
      sum(when($"fa" && !$"fb", 1L).otherwise(0L)).as("n10"),
      sum(when(!$"fa" && $"fb", 1L).otherwise(0L)).as("n01"),
      sum(when(!$"fa" && !$"fb", 1L).otherwise(0L)).as("n00"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val b = dec($"n11" + $"n10") * dec($"n11" + $"n01") +
      dec($"n01" + $"n00") * dec($"n10" + $"n00")
    rollup($"source").unionByName(rollup(lit("*")))
      .select($"source", $"n", $"n11", $"n10", $"n01", $"n00",
        round(($"n11" + $"n00").cast("double") / $"n", 6).as("po_r"),
        round(b.cast("double") / (dec($"n") * dec($"n")).cast("double"), 6)
          .as("pe_r"),
        when(dec($"n") * dec($"n") =!= b,
          round((dec($"n") * dec($"n11" + $"n00") - b).cast("double") /
            (dec($"n") * dec($"n") - b).cast("double"), 6)).as("kappa_r"))
  }

  /** Both filter definitions ride in VERBATIM as CTE subqueries (t02Sql
    * / t34Sql) — the agreement audit can never drift from the filters
    * it audits. */
  def c23Sql: String = {
    val bSql = "(n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)"
    s"""WITH qa AS (SELECT doc_id, keep AS fa FROM (${TextAnalysis.t02Sql})),
       |tb AS (SELECT doc_id, gopher_pass AS fb FROM (${TextAnalysis.t34Sql})),
       |j AS (
       |  SELECT d.source, fa, fb
       |  FROM documents d JOIN qa USING (doc_id) JOIN tb USING (doc_id)
       |), g AS (
       |  SELECT source, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM j GROUP BY source
       |  UNION ALL
       |  SELECT '*', COUNT(*),
       |    CAST(SUM(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(SUM(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(SUM(CASE WHEN NOT fa AND fb THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(SUM(CASE WHEN NOT fa AND NOT fb THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM j
       |)
       |SELECT source, n, n11, n10, n01, n00,
       |  ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po_r,
       |  ROUND(CAST($bSql AS DOUBLE) / (CAST(n AS HUGEINT) * n), 6) AS pe_r,
       |  CASE WHEN CAST(n AS HUGEINT) * n <> ($bSql)
       |    THEN ROUND(CAST(CAST(n AS HUGEINT) * (n11 + n00) - ($bSql) AS DOUBLE)
       |         / CAST(CAST(n AS HUGEINT) * n - ($bSql) AS DOUBLE), 6)
       |  END AS kappa_r
       |FROM g""".stripMargin
  }

  def c19QualitySweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val taus = Seq(0.3, 0.4, 0.5, 0.6, 0.7)
    documents(s, d)
      .select(
        round(TextAnalysis.qualityScoreCol($"text"), 6).as("q"),
        size(split($"text", " ")).cast("long").as("n_tok"))
      .select($"q", $"n_tok",
        explode(lit(taus.toArray)).as("tau"))
      .groupBy($"tau")
      .agg(sum(when($"q" >= $"tau", 1L).otherwise(0L)).as("n_docs"),
        sum(when($"q" >= $"tau", $"n_tok").otherwise(0L)).as("n_tokens"),
        count(lit(1)).as("n_total"))
      .select($"tau", $"n_docs", $"n_tokens",
        round($"n_docs".cast("double") / $"n_total", 6).as("frac_docs"))
  }

  val c19Sql: String = {
    val t02 = TextAnalysis.t02Sql.replace("\n", "\n  ")
    s"""WITH q AS (
       |  ${t02}
       |), n AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |)
       |SELECT tau,
       |  CAST(SUM(CASE WHEN q.quality >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN q.quality >= tau THEN n.n_tok ELSE 0 END) AS BIGINT) AS n_tokens,
       |  ROUND(SUM(CASE WHEN q.quality >= tau THEN 1 ELSE 0 END)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS frac_docs
       |FROM q JOIN n USING (doc_id),
       |  UNNEST([0.3, 0.4, 0.5, 0.6, 0.7]) AS t(tau)
       |GROUP BY tau""".stripMargin
  }

  /** t15: column profile of the corpus table — null counts, distinct
    * counts, min/max per column, one aggregate pass per column unioned
    * into a tall profile. The data-quality gate a pipeline checks
    * before committing a new corpus drop. (At 100 TB you'd compute all
    * columns in ONE pass with a struct-of-aggregates projection; the
    * per-column union keeps each row independently oracle-checkable,
    * and Catalyst still scans the parquet once per column group with
    * only that column read.) */
  def t15ColumnProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val profiles = Seq("doc_id", "lang", "source", "n_chars").map { c =>
      docs.agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("column"), $"n_rows", $"n_nulls", $"n_distinct",
          $"min_val", $"max_val")
    }
    profiles.reduce(_ unionByName _)
  }

  val t15Sql: String =
    Seq("doc_id", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
         |  COUNT(*) FILTER ($c IS NULL) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_val,
         |  CAST(MAX($c) AS VARCHAR) AS max_val
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** d09: cross-modal dedup validation — for every text near-dup pair
    * (d03's exact Jaccard join), the embedding-space cosine of the same
    * two documents. The QA query a curation pipeline runs to check that
    * its text and embedding dedup signals agree before trusting either
    * at scale; pairs are few, so the embedding join is two keyed
    * lookups. */
  def d09CrossModal(s: SparkSession, d: String): DataFrame =
    d09CrossModal(s, d, None)

  /** Pipeline form: accepts the d03 pair frame precomputed by the
    * caller (shared with d08's clustering) so the corpus-wide
    * similarity join runs once per pipeline; must carry (d1, d2,
    * jaccard). `None` recomputes — the standalone oracle path. */
  def d09CrossModal(s: SparkSession, d: String,
                    precomputed: Option[DataFrame]): DataFrame = {
    import s.implicits._
    val pairs = precomputed.getOrElse(Dedup.ngramJaccardPairs(documents(s, d), 0.8))
    val e = embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .select($"vec_id", $"v", Similarity.norm($"v").as("nrm"))
    pairs
      .join(e.select($"vec_id".as("d1"), $"v".as("v1"), $"nrm".as("n1")), "d1")
      .join(e.select($"vec_id".as("d2"), $"v".as("v2"), $"nrm".as("n2")), "d2")
      .select($"d1", $"d2", round($"jaccard", 6).as("jaccard_r"),
        round(Similarity.dot($"v1", $"v2") / ($"n1" * $"n2"), 6).as("cosine_r"))
  }

  val d09Sql: String = {
    val pairSql = Dedup.d03Sql.replace("\n", "\n  ")
    s"""WITH pairs AS (
       |  ${pairSql}
       |), e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |)
       |SELECT d1, d2, ROUND(jaccard, 6) AS jaccard_r,
       |  ROUND(list_dot_product(a.v, b.v) /
       |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
       |FROM pairs JOIN e a ON pairs.d1 = a.vec_id
       |           JOIN e b ON pairs.d2 = b.vec_id""".stripMargin
  }

  /** c01: the END-TO-END curation pipeline, composed from the
    * individually-oracled stages in their canonical order —
    *
    *   language filter (t03, keep 'en')
    *   → quality filter (t02, score ≥ 0.5)
    *   → exact dedup, keep-first (group by text, keep min doc_id)
    *   → near-dup dedup, keep-first (d03 pairs at τ = 0.8, drop d2)
    *   → benchmark decontamination (d07's ≥ 3 shared shingles rule
    *     against the doc_id < 20 benchmark set)
    *
    * — the "would a user switch" artifact: one DataFrame program from
    * raw corpus to curated doc set, hash-checked as a WHOLE against a
    * single DuckDB CTE chain (stage composition is where silent
    * semantic drift hides; per-stage oracles can't see it).
    *
    * Stage order matters and is part of the contract: filters run
    * before dedup (cheap row-local predicates prune the expensive
    * joins' input), near-dup runs on the exact-deduped set, and
    * decontamination runs last — so a contaminated doc DOES still
    * suppress its near-copies (deliberately conservative: a near-copy
    * of a benchmark-contaminated doc is itself suspect even when its
    * own shared-shingle count sits under the threshold; running decon
    * first would instead re-admit such copies). Output:
    * (doc_id, quality) of survivors. */
  def c01CurationPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    curationMarks(s, d).filter($"m_surv").select($"doc_id", $"quality")
  }

  /** ONE progressively-flagged corpus frame shared by c01 (survivor
    * rows) and c02 (per-stage counts), so the stage definitions cannot
    * drift between the two — and so each stage is computed exactly
    * once in one plan:
    *
    *  - language and quality are PER-ROW EXPRESSIONS
    *    ([[TextAnalysis.langPredCol]]/[[TextAnalysis.qualityScoreCol]]),
    *    not joins against t03/t02 output frames — zero extra scans;
    *  - exact keep-first dedup is one NARROW content-hash aggregate
    *    (min doc_id per sha-256 among quality survivors, map-side
    *    combined) joined back on doc_id — not a window over `text`,
    *    which would shuffle AND sort full text bytes keyed by the text
    *    value itself and concentrate a mass-duplicated text's clique
    *    on one task (r14; the d01/m05 hash-grouping discipline);
    *  - the near-dup pair join and the contamination join — the two
    *    expensive operators — each appear once, as left-joined kill
    *    sets over the flagged frame.
    *
    * The previous formulation materialized each stage as its own
    * frame; a funnel over five stage frames recomputed the shared
    * lineage per marker (the pair join twice, the lang/quality work
    * five times — measured 7.9 s median at sf0.1 vs 2× the pipeline
    * cost expected). Markers also make the funnel's semantics
    * machine-checkable: m_surv ⊆ m_f3 ⊆ m_f2 ⊆ m_f1 ⊆ m_lang by
    * construction (each flag ANDs the previous one).
    *
    * Scale: no caching, no full-row persist — the only state the plan
    * carries besides the corpus scan is doc_id-level kill sets. */
  private def curationMarks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = documents(s, d).select($"doc_id", $"text")
    curationMarksOf(all.filter($"doc_id" >= 20), all.filter($"doc_id" < 20))._1
  }

  /** [[curationMarks]] over explicit (doc_id, text) corpus/benchmark
    * frames — the frame-taking core c12's standing-state build shares,
    * so the incremental path cannot drift from c01's stage semantics. */
  /** Returns (marks, f2sh): `marks` is the NARROW per-doc stage frame —
    * doc_id, every non-text input column (c21's `source`), n_tok,
    * quality, th, and the five stage flags; `f2sh` is the checkpointed
    * shingle frame of the exact-dedup survivors (what the pair join
    * consumed, and what c12's saved state persists).
    *
    * r19 shape (guide §2.3/§2.4 and §8's decide-on-small-rows rule):
    * every text-derived feature any consumer reads — n_tok for c21's
    * token rollup, th for the keep-first winner set and c12's state,
    * the lang/quality flags — is computed in ONE map pass over the
    * scan and checkpointed at ~100 B/doc. Raw text never crosses an
    * exchange: the previous shape joined the full-text frame against
    * the winner set and again against the kill sets (text shuffled
    * twice per consumer), and Catalyst expanded every reference to the
    * marks frame into its own copy of the scan + regex stack — the
    * initial c01 plan scanned `documents` 21× and re-sorted shingles
    * ~8×. Tracked checkpoints are released at the consumer's next
    * Scratch.drain() (Verify/Bench between queries, the streaming loop
    * per batch). */
  private def curationMarksOf(corpus: DataFrame,
                              bench: DataFrame): (DataFrame, DataFrame) = {
    val s = corpus.sparkSession
    import s.implicits._
    val score = TextAnalysis.qualityScoreCol($"text")
    val langOk = TextAnalysis.langPredCol($"text") === "en"
    val f1 = langOk && (score >= 0.5)
    val passthrough = corpus.columns.toSeq
      .filterNot(c => c == "doc_id" || c == "text").map(col)
    val feat = graft.Scratch.track(corpus
      .select(Seq($"doc_id") ++ passthrough ++ Seq(
        size(split($"text", " ")).cast("long").as("n_tok"),
        langOk.as("m_lang"),
        round(score, 6).as("quality"),
        f1.as("m_f1"),
        // content hash only where the winner set can read it (f1) —
        // the d01/m05 discipline: sha-256 equality stands in for text
        // equality, and the aggregate below ships (hash, id) pairs,
        // never text bytes (the r14 window-over-text lesson)
        when(f1, sha2($"text", 256)).as("th")): _*)
      .localCheckpoint())
    // exact keep-first via the NARROW content-hash aggregate + a
    // doc-keyed join back — both over the checkpointed feature frame
    val winners = feat.filter($"m_f1")
      .select($"th", $"doc_id")
      .groupBy($"th").agg(min($"doc_id").as("win_id"))
      .select($"win_id".as("doc_id"), lit(true).as("is_win"))
    val marksF2 = graft.Scratch.track(feat
      .join(winners, Seq("doc_id"), "left_outer")
      .withColumn("m_f2", $"m_f1" && coalesce($"is_win", lit(false)))
      .drop("is_win")
      .localCheckpoint())
    // shingle the exact-dedup survivors ONCE — the only place text is
    // re-read, and the shingle frame is checkpointed because its
    // consumers reference it five times (four inside the prefix join,
    // one in the contamination explode)
    val f2sh = graft.Scratch.track(corpus
      .join(marksF2.filter($"m_f2").select($"doc_id"), Seq("doc_id"))
      .select($"doc_id", array_sort(Dedup.shingleHashes($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .localCheckpoint())
    // the kill set is the OUTPUT of the expensive pair join, referenced
    // twice (contamination anti-join + final marks join) — materialize
    // the diff-sized result, not the join per reference
    val nearRejected = graft.Scratch.track(Dedup.prefixJoinPairs(f2sh, 0.8)
      .select($"d2".as("doc_id")).distinct()
      .localCheckpoint())
    val benchEx = bench
      .select($"doc_id".as("bench_id"),
        explode(Dedup.shingleHashes($"text")).as("sg"))
    // f2sh ▷ nearRejected ≡ the near-dup stage's survivors — references
    // the pair join's (tiny) output, not a second copy of its subtree
    val contaminated = contaminationCounts(
        f2sh.join(nearRejected, Seq("doc_id"), "left_anti")
          .select($"doc_id", explode($"sh").as("sg")),
        benchEx)
      .select($"doc_id").distinct()
    val marks = marksF2
      .join(nearRejected.withColumn("nk", lit(1)), Seq("doc_id"), "left_outer")
      .join(contaminated.withColumn("ck", lit(1)), Seq("doc_id"), "left_outer")
      .withColumn("m_f3", $"m_f2" && $"nk".isNull)
      .withColumn("m_surv", $"m_f3" && $"ck".isNull)
      .drop("nk", "ck")
    (marks, f2sh)
  }

  /** c02: the funnel — row counts surviving each c01 stage, the
    * observability artifact a pipeline operator actually watches (a
    * stage suddenly eating 40% of the corpus is the first symptom of a
    * bad filter or a dup storm). Same flags as c01 by construction:
    * one aggregate over [[curationMarks]]. */
  def c02CurationFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r = curationMarks(s, d)
      .agg(count(lit(1)).as("n0"),
        sum($"m_lang".cast("long")).as("n1"),
        sum($"m_f1".cast("long")).as("n2"),
        sum($"m_f2".cast("long")).as("n3"),
        sum($"m_f3".cast("long")).as("n4"),
        sum($"m_surv".cast("long")).as("n5"))
      .head()
    Seq(
      ("1_input", r.getLong(0)),
      ("2_lang", r.getLong(1)),
      ("3_quality", r.getLong(2)),
      ("4_exact_dedup", r.getLong(3)),
      ("5_near_dedup", r.getLong(4)),
      ("6_decontaminated", r.getLong(5)),
    ).toDF("stage", "n")
  }

  /** The same five stages as one CTE chain, built by embedding the
    * per-stage oracle SQL verbatim (t02Sql/t03Sql) and d03/d07's
    * shingle patterns over the filtered sets. */
  private val curationCtes: String = {
    val t03 = TextAnalysis.t03Sql.replace("\n", "\n  ")
    val t02 = TextAnalysis.t02Sql.replace("\n", "\n  ")
    s"""WITH lang_keep AS (
       |  SELECT doc_id FROM (
       |  ${t03}
       |  ) WHERE lang_pred = 'en'
       |), qual_keep AS (
       |  SELECT doc_id, quality FROM (
       |  ${t02}
       |  ) WHERE keep
       |), f1 AS (
       |  SELECT d.doc_id, d.text, q.quality
       |  FROM documents d
       |  JOIN lang_keep l ON d.doc_id = l.doc_id
       |  JOIN qual_keep q ON d.doc_id = q.doc_id
       |  WHERE d.doc_id >= 20
       |), first_exact AS (
       |  SELECT MIN(doc_id) AS doc_id FROM f1 GROUP BY text
       |), f2 AS (
       |  SELECT f1.* FROM f1 JOIN first_exact USING (doc_id)
       |), sh AS (
       |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |           for i in range(1, len(t)-1)]) AS shingles
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM f2)
       |  WHERE len(t) >= 3
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
       |), inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter,
       |         any_value(a.n) AS n1, any_value(b.n) AS n2
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), near_rejected AS (
       |  SELECT DISTINCT d2 AS doc_id FROM inter
       |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.8
       |), bex AS (
       |  SELECT doc_id AS bench_id, unnest(shingles) AS s FROM (
       |    SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |             for i in range(1, len(t)-1)]) AS shingles
       |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |          WHERE doc_id < 20)
       |    WHERE len(t) >= 3)
       |), contaminated AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT c.doc_id, b.bench_id
       |    FROM (SELECT doc_id, unnest(shingles) AS s FROM sh
       |          WHERE doc_id NOT IN (SELECT doc_id FROM near_rejected)) c
       |    JOIN bex b ON c.s = b.s
       |    GROUP BY c.doc_id, b.bench_id
       |    HAVING COUNT(*) >= 3)
       |)""".stripMargin
  }

  val c01Sql: String =
    s"""$curationCtes
       |SELECT doc_id, quality FROM f2
       |WHERE doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  /** Funnel counts off the same CTE chain (shared `curationCtes`, so
    * the two oracles cannot drift either). */
  val c02Sql: String =
    s"""$curationCtes
       |SELECT stage, CAST(n AS BIGINT) AS n FROM (
       |  SELECT '1_input' AS stage, COUNT(*) AS n FROM documents WHERE doc_id >= 20
       |  UNION ALL SELECT '2_lang', COUNT(*) FROM documents d
       |    JOIN lang_keep USING (doc_id) WHERE d.doc_id >= 20
       |  UNION ALL SELECT '3_quality', COUNT(*) FROM f1
       |  UNION ALL SELECT '4_exact_dedup', COUNT(*) FROM f2
       |  UNION ALL SELECT '5_near_dedup', COUNT(*) FROM f2
       |    WHERE doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |  UNION ALL SELECT '6_decontaminated', COUNT(*) FROM f2
       |    WHERE doc_id NOT IN (SELECT doc_id FROM near_rejected)
       |      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
       |)""".stripMargin

  /** Deterministic stratified downsampling to a target training mix:
    * given per-stratum weights `w` (summing to ≤ 1) and a corpus-
    * fraction budget, keep each stratum at rate
    * `min(1, w·budget·N/n_stratum)` using the same Knuth multiplicative
    * hash as t09's split — so the sample is reproducible, independent
    * of partitioning and row order, and a re-run over a grown corpus
    * keeps a superset-stable per-doc decision given fixed rates. This
    * is the data-mixing step of a pretraining pipeline (upweight
    * under-represented sources, cap dominant ones) expressed as two
    * broadcast joins over one groupBy — no shuffle of the corpus
    * itself, so it runs at any scale the scan runs at.
    *
    * Unweighted strata drop (weight 0); rates and thresholds are exact
    * IEEE-double + integer arithmetic, identical in DuckDB, so the
    * driver hash-checks the full kept set. */
  def trainingMix(docs: DataFrame, weights: Map[String, Double],
                  budgetFrac: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wdf = weights.toSeq.toDF("lang", "w")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_l"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val rates = counts.join(broadcast(wdf), Seq("lang"))
      .crossJoin(broadcast(total))
      .withColumn("rate",
        least(lit(1.0), $"w" * lit(budgetFrac) * $"n_total" / $"n_l"))
      .withColumn("thresh", floor($"rate" * 1000000).cast("long"))
    docs.join(broadcast(rates.select($"lang", $"thresh")), Seq("lang"))
      // same overflow clamp as TextAnalysis.hashSplitCol: keep the Knuth
      // multiply below Long.MaxValue for any key, mirrored in c03Sql
      .filter(pmod(pmod($"doc_id", lit(1000000000L)) * 2654435761L,
        lit(1000000L)) < $"thresh")
      .select($"doc_id", $"lang")
  }

  /** Canonical mix: rebalance the en-heavy corpus toward uniform-ish
    * shares at a 60% budget. */
  val c03Weights: Seq[(String, Double)] = Seq(
    "en" -> 0.30, "zh" -> 0.20, "es" -> 0.20, "de" -> 0.15, "fr" -> 0.15)

  /** c04: the per-source corpus datasheet — the first artifact a
    * training-data team reads about a new source before deciding its
    * mixing weight: volume, byte-exact uniqueness, language mix, mean
    * quality, and near-dup exposure (how many of the source's docs
    * participate in ANY cross-corpus J ≥ 0.8 pair — d13 says WHO the
    * overlap is with, this says HOW MUCH of the source is implicated).
    *
    * Cost shape: language and quality are per-row expressions (no
    * joins), uniqueness is a count-distinct over a content hash, and
    * the near-dup flag reuses the same prefix pair join every other
    * curation consumer runs — one aggregate keyed by `source` (20ish
    * groups) over one corpus pass plus the pair join. Mean quality is
    * an exact DECIMAL(18,6) sum (quality is 6-decimal by construction)
    * so the report is bit-deterministic at any parallelism. */
  def c04CorpusReport(s: SparkSession, d: String): DataFrame =
    // corpus fan-out measured flat-to-worse here (A/B 2.11 vs 2.28 at
    // sf0.1; the datasheet is aggregate-bound, not scan-bound) — plain
    corpusDatasheet(documents(s, d))

  /** Frame-taking form of c04: `docs` must carry (source, doc_id,
    * text). The table-reading entry above delegates here; tests that
    * vary input partitioning feed a repartitioned frame directly so the
    * parallelism they set is what the operator sees. */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs.select($"source", $"doc_id",
      round(TextAnalysis.qualityScoreCol($"text"), 6).as("quality"),
      (TextAnalysis.langPredCol($"text") === "en").as("is_en"),
      sha2($"text", 256).as("h"))
    val nd = Dedup.ngramJaccardPairs(docs.select($"doc_id", $"text"), 0.8)
      .select(explode(array($"d1", $"d2")).as("doc_id")).distinct()
    base.join(nd.withColumn("is_nd", lit(1L)), Seq("doc_id"), "left_outer")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"h").as("n_unique"),
        sum($"is_en".cast("long")).as("n_en"),
        round(sum($"quality".cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("mean_quality_r"),
        sum(coalesce($"is_nd", lit(0L))).as("n_neardup"))
  }

  val c04Sql: String = {
    val pairs = Dedup.d03Sql.replace("\n", "\n  ")
    val t02 = TextAnalysis.t02Sql.replace("\n", "\n  ")
    val t03 = TextAnalysis.t03Sql.replace("\n", "\n  ")
    s"""WITH pairs AS (
       |  $pairs
       |), nd AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT d1 AS doc_id FROM pairs UNION SELECT d2 FROM pairs)
       |), q AS (
       |  SELECT doc_id, quality FROM (
       |  $t02
       |  )
       |), l AS (
       |  SELECT doc_id, lang_pred FROM (
       |  $t03
       |  )
       |)
       |SELECT d.source, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT sha256(d.text)) AS n_unique,
       |  CAST(SUM(CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  ROUND(CAST(SUM(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
       |    / COUNT(*), 6) AS mean_quality_r,
       |  CAST(SUM(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup
       |FROM documents d
       |JOIN q USING (doc_id) JOIN l USING (doc_id)
       |LEFT JOIN nd USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** c06: split-leakage AUDIT — every J ≥ τ near-dup pair whose
    * endpoints land in DIFFERENT splits of a GIVEN assignment. c05
    * builds splits that cannot leak; this verifies splits built
    * elsewhere (a vendor's, a legacy pipeline's, t09's naive per-doc
    * hash) and quantifies the damage when they do. Empty output = the
    * split is leakage-free at τ; each row is one contaminated pair
    * with both split labels attached, ready for triage or exclusion.
    *
    * The shipped entry audits t09's per-doc hash split — the audit
    * that MUST find violations (near-dup pairs don't respect a
    * per-doc hash), exercising the non-trivial output path; the
    * c05-over-c06 emptiness property is spec-pinned instead (an
    * all-empty gate entry would be a vacuous hash-match).
    *
    * Scale: the pair join is the same prefix join every curation
    * consumer shares (pass a precomputed pair frame in a composed
    * pipeline); the split attachment is two broadcast-size joins on
    * doc_id. */
  def c06SplitAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val split = documents(s, d).select($"doc_id",
      TextAnalysis.hashSplitCol($"doc_id").as("split"))
    splitAuditPairs(documents(s, d).select($"doc_id", $"text"), split, 0.8)
  }

  /** The audit over any (doc_id, text) corpus and any (doc_id, split)
    * assignment — see [[c06SplitAudit]]. */
  def splitAuditPairs(docs: DataFrame, split: DataFrame,
                      tau: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Dedup.ngramJaccardPairs(docs, tau)
      .join(split.select($"doc_id".as("d1"), $"split".as("split_1")), "d1")
      .join(split.select($"doc_id".as("d2"), $"split".as("split_2")), "d2")
      .filter($"split_1" =!= $"split_2")
      .select($"d1", $"d2", $"jaccard", $"split_1", $"split_2")
  }

  val c06Sql: String = {
    val pairs = Dedup.d03Sql.replace("\n", "\n  ")
    s"""WITH pairs AS (
       |  $pairs
       |), sp AS (
       |  SELECT doc_id, ${TextAnalysis.hashSplitSql("doc_id")} AS split
       |  FROM documents
       |)
       |SELECT d1, d2, jaccard, a.split AS split_1, b.split AS split_2
       |FROM pairs JOIN sp a ON pairs.d1 = a.doc_id
       |           JOIN sp b ON pairs.d2 = b.doc_id
       |WHERE a.split <> b.split""".stripMargin
  }

  def c03TrainingMix(s: SparkSession, d: String): DataFrame =
    trainingMix(documents(s, d), c03Weights.toMap, 0.6)

  val c03Sql: String = {
    val values = c03Weights
      .map { case (l, w) => s"('$l', CAST($w AS DOUBLE))" }.mkString(", ")
    s"""WITH w(lang, w) AS (VALUES $values),
       |c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_total FROM documents),
       |r AS (
       |  SELECT c.lang,
       |    CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
       |      w.w * 0.6 * t.n_total / c.n_l) * 1000000) AS BIGINT) AS thresh
       |  FROM c JOIN w ON c.lang = w.lang CROSS JOIN t
       |)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN r ON d.lang = r.lang
       |WHERE ((d.doc_id % 1000000000) * 2654435761) % 1000000 < r.thresh""".stripMargin
  }

  /** c05: leakage-free train/val/test split. t09's per-doc hash split
    * has a blind spot for TRAINING data: two near-duplicate documents
    * can land in different splits, and the eval copy then "contaminates"
    * the benchmark — the model saw its twin in train. The guard is to
    * split CLUSTERS, not documents: every doc inherits its near-dup
    * cluster representative ([[Dedup.collapsedClusters]]) as its split
    * key (its own id when it has no near-dups), and the Knuth-hash
    * bucket of that key decides train/val/test — so a whole near-dup
    * cluster moves as one unit and no J ≥ τ pair ever straddles splits
    * (spec-asserted).
    *
    * When is this needed? A corpus ALREADY near-dup-deduped at τ' ≤ τ
    * has no qualifying pairs left, and t09's per-doc split is leakage-
    * safe on it for free (the streaming admission path guarantees
    * exactly this for its admitted set). c05 is for corpora that keep
    * their near-dups — cluster-keep-one discards data a trainer may
    * want — or that split at a STRICTER τ than they dedup.
    *
    * Scale: the cluster pass is the d12 rep-level CC (the corpus-wide
    * near-dup join runs once — share it with the dedup stage in a real
    * pipeline); the split itself is one left join against the cluster
    * map plus row-local hash arithmetic — partition-independent,
    * reproducible, and stable per document as the corpus grows (a doc's
    * split flips only if its cluster gains a lower-id member). */
  def leakageSafeSplit(docs: DataFrame, threshold: Double): DataFrame =
    splitFromClusters(docs, Dedup.collapsedClusters(docs, threshold))

  /** Pipeline form: a curation run that already materialized a near-dup
    * pair frame (d03/d10 — or any (d1, d2) graph whose connected
    * components are the leakage units, e.g. [[Dedup.collapsedPairGraph]])
    * passes it here, and the corpus-wide shingle join runs ONCE per
    * pipeline instead of once per consumer. At 100 TB the pair join is
    * the expensive stage; everything downstream of it — the CC rounds
    * over the (collapsed) pair graph and one left join — is cheap by
    * comparison. Same economics as [[Dedup.d08DedupClusters]]'s and
    * [[d13SourceOverlap]]'s pairs overloads. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    splitFromClusters(docs, Dedup.clusterPairs(pairs.select($"d1", $"d2")))
  }

  /** The split itself, given any (doc_id, cluster_rep) cluster map:
    * docs absent from the map are their own singleton cluster. */
  private def splitFromClusters(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id")
      .join(clusters, Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"cluster_rep", $"doc_id").as("split_key"))
      .select($"doc_id", $"split_key",
        TextAnalysis.hashSplitCol($"split_key").as("split"))
  }

  def c05LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    leakageSafeSplit(documents(s, d).select($"doc_id", $"text"), 0.8)
  }

  /** Oracle: d08's recursive-CTE clusters, left-joined under the same
    * hash arithmetic as t09's split. */
  val c05Sql: String = {
    val pairSql = Dedup.d03Sql.replace("\n", "\n  ")
    s"""WITH RECURSIVE pairs AS (
       |  ${pairSql}
       |), edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
       |), clusters AS (
       |  SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id
       |)
       |SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS split_key,
       |  ${TextAnalysis.hashSplitSql("COALESCE(c.rep, d.doc_id)")} AS split
       |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id""".stripMargin
  }

  /** d13: cross-source near-dup overlap matrix — for every unordered
    * pair of corpus SOURCES, how many J ≥ τ document pairs connect
    * them. This is the dataset-mixing diagnostic a pretraining run
    * reads before weighting sources (c03): heavy off-diagonal mass
    * means two "different" sources are substantially the same crawl
    * and their weights double-count; heavy diagonal mass means a
    * source needs dedup before it can be trusted at its row count.
    *
    * Cost = the d03 pair join (share the materialized pair frame in a
    * real pipeline — same economics as d08/d09) + two id-keyed lookups
    * of the tiny (doc_id, source) projection + a k²-key aggregate. */
  def d13SourceOverlap(s: SparkSession, d: String): DataFrame =
    d13SourceOverlap(s, d, None)

  def d13SourceOverlap(s: SparkSession, d: String,
                       pairs: Option[DataFrame]): DataFrame = {
    import s.implicits._
    val p = pairs.getOrElse(
      Dedup.ngramJaccardPairs(documents(s, d).select($"doc_id", $"text"), 0.8))
    val src = documents(s, d).select($"doc_id", $"source")
    p.join(src.toDF("d1", "src1"), "d1")
      .join(src.toDF("d2", "src2"), "d2")
      .select(least($"src1", $"src2").as("source_a"),
              greatest($"src1", $"src2").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  val d13Sql: String = {
    val pairSql = Dedup.d03Sql.replace("\n", "\n  ")
    s"""WITH pairs AS (
       |  ${pairSql}
       |)
       |SELECT LEAST(a.source, b.source) AS source_a,
       |  GREATEST(a.source, b.source) AS source_b,
       |  COUNT(*) AS n_pairs
       |FROM pairs
       |JOIN documents a ON pairs.d1 = a.doc_id
       |JOIN documents b ON pairs.d2 = b.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- c07: corpus snapshot diff (incremental-ingestion manifest) ----

  /** c07: what changed between two corpus snapshots — the CDC-style
    * diff an incremental 100 TB pipeline computes per crawl so that
    * every downstream stage (dedup delta d11/s06, re-embedding,
    * re-indexing) processes the DELTA, not the corpus. Classification
    * per doc_id via one full outer join of the two snapshot MANIFESTS
    * (doc_id, content sha-256): `added` (new only), `removed` (old
    * only), `changed` (both, hash differs); unchanged rows — the
    * overwhelming mass at 100 TB — are not emitted.
    *
    * Scale: the join carries (id, 64-hex hash) only — the text column
    * is pruned before the shuffle, so snapshot diffing moves manifest
    * bytes, never payload bytes; one equi-shuffle on doc_id, uniform
    * by construction. The manifests themselves are the per-crawl hash
    * pass d01 already runs.
    *
    * The two snapshots are derived deterministically from the fixture
    * (no second table exists): OLD = doc_id % 10 ≠ 0, with docs
    * doc_id % 10 = 5 carrying a stale text revision; NEW = the table
    * as-is minus doc_id % 10 = 1 (deleted since). So 0-mod docs are
    * `added`, 1-mod `removed`, 5-mod `changed` — structure the oracle
    * replicates verbatim. */
  def c07SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val old = docs.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", sha2(
        when($"doc_id" % 10 === 5, concat($"text", lit(" [stale rev]")))
          .otherwise($"text"), 256).as("h_old"))
    val nw = docs.filter($"doc_id" % 10 =!= 1)
      .select($"doc_id", sha2($"text", 256).as("h_new"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"h_old".isNull, lit("added"))
          .when($"h_new".isNull, lit("removed"))
          .when($"h_old" =!= $"h_new", lit("changed")).as("status"),
        $"h_new")
      .filter($"status".isNotNull)
  }

  val c07Sql: String =
    """WITH old AS (
      |  SELECT doc_id, sha256(CASE WHEN doc_id % 10 = 5
      |           THEN text || ' [stale rev]' ELSE text END) AS h_old
      |  FROM documents WHERE doc_id % 10 <> 0
      |), nw AS (
      |  SELECT doc_id, sha256(text) AS h_new
      |  FROM documents WHERE doc_id % 10 <> 1
      |), j AS (
      |  SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id, h_old, h_new
      |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
      |)
      |SELECT doc_id,
      |  CASE WHEN h_old IS NULL THEN 'added'
      |       WHEN h_new IS NULL THEN 'removed'
      |       WHEN h_old <> h_new THEN 'changed' END AS status,
      |  h_new
      |FROM j
      |WHERE (CASE WHEN h_old IS NULL THEN 'added'
      |            WHEN h_new IS NULL THEN 'removed'
      |            WHEN h_old <> h_new THEN 'changed' END) IS NOT NULL""".stripMargin

  /** c08: temperature-scaled mixture sampling — c03 with the weights
    * DERIVED from the data instead of hand-set. The standard
    * multilingual/multi-source rebalancing rule (Lample & Conneau 2019
    * §3.1; the α-sampling every multilingual LM uses): sample language
    * l with probability q_l ∝ p_l^α, α ∈ (0,1), so heavy languages are
    * downsampled and tails upsampled relative to natural frequency.
    * α = 0.5 makes q_l ∝ √n_l — and √ is CORRECTLY ROUNDED in IEEE 754
    * (unlike pow/exp/ln), so the whole rate computation stays
    * bit-identical across engines and the entry takes a full DuckDB
    * oracle where a general-α pow() never could.
    *
    * Determinism detail: the one order-varying reduction — Σ_l √n_l —
    * runs over 6dp-quantized values in exact decimal ([[graft.Det]]
    * discipline); each remaining step is a single correctly-rounded
    * double op with parenthesization mirrored in the SQL. Per-doc
    * admission reuses c03's Knuth-hash threshold, so the sample is
    * reproducible row-by-row, not just in expectation.
    *
    * Scale: two broadcast-size aggregates (per-lang counts) + one
    * broadcast join + row-local hash arithmetic — one corpus scan, no
    * corpus shuffle at all. */
  def temperatureMix(docs: DataFrame, budgetFrac: Double): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_l"))
    val sq = counts.withColumn("rt", round(sqrt($"n_l"), 6))
    val tot = sq.agg(graft.Det.dsum($"rt").cast("double").as("s_rt"),
      sum($"n_l").as("n_total"))
    val rates = sq.crossJoin(broadcast(tot))
      .withColumn("q", $"rt" / $"s_rt")
      .withColumn("rate",
        least(lit(1.0), $"q" * lit(budgetFrac) * $"n_total" / $"n_l"))
      .withColumn("thresh", floor($"rate" * 1000000).cast("long"))
    docs.join(broadcast(rates.select($"lang", $"thresh")), Seq("lang"))
      .filter(pmod(pmod($"doc_id", lit(1000000000L)) * 2654435761L,
        lit(1000000L)) < $"thresh")
      .select($"doc_id", $"lang")
  }

  def c08TemperatureMix(s: SparkSession, d: String): DataFrame =
    temperatureMix(documents(s, d), 0.6)

  val c08Sql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
      |sq AS (SELECT lang, n_l, ROUND(SQRT(n_l), 6) AS rt FROM c),
      |t AS (SELECT CAST(SUM(CAST(rt AS DECIMAL(18,6))) AS DOUBLE) AS s_rt,
      |             CAST(SUM(n_l) AS BIGINT) AS n_total FROM sq),
      |r AS (
      |  SELECT sq.lang,
      |    CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
      |      sq.rt / t.s_rt * 0.6 * t.n_total / sq.n_l) * 1000000) AS BIGINT)
      |      AS thresh
      |  FROM sq CROSS JOIN t
      |)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r ON d.lang = r.lang
      |WHERE ((d.doc_id % 1000000000) * 2654435761) % 1000000 < r.thresh""".stripMargin

  /** c09: per-source document cap — keep the top `cap` documents of
    * every source by quality, the per-domain cap every web-scale
    * curation recipe applies (C4 and Gopher cap pages per domain;
    * Dolma caps per-source contributions) so no single crawl seed,
    * mirror farm, or SEO domain dominates the mixture. Ranking is the
    * t02 quality score (6dp-rounded BEFORE ranking, so the sort key is
    * cross-engine bit-identical — the c08 discipline), ties by doc_id.
    *
    * Scale: the rank-≤-cap window is exactly the shape Catalyst
    * rewrites into WindowGroupLimit — a PARTIAL top-cap runs map-side
    * before the shuffle, so each task ships at most `cap` rows per
    * source it sees, never a source's full posting (plan-pinned in
    * PlanSpec). One shuffle on source; a 100 TB corpus with millions
    * of domains shards evenly, and a pathologically hot domain still
    * only ships cap rows per upstream task. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
    docs
      .select($"doc_id", $"source",
        round(TextAnalysis.qualityScoreCol($"text"), 6).as("quality"))
      .withColumn("src_rank", row_number().over(w))
      .filter($"src_rank" <= cap)
  }

  def c09SourceCap(s: SparkSession, d: String): DataFrame =
    sourceCap(documents(s, d), 15)

  val c09Sql: String = {
    val q = TextAnalysis.qualitySqlExpr
    s"""WITH q AS (
       |  SELECT doc_id, source, ROUND($q, 6) AS quality
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
       |)
       |SELECT doc_id, source, quality, src_rank FROM (
       |  SELECT doc_id, source, quality,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id ASC) AS src_rank
       |  FROM q)
       |WHERE src_rank <= 15""".stripMargin
  }

  /** c10: per-source token-budget admission — fill each source's token
    * quota with its best documents: walk the source's docs in
    * (quality DESC, doc_id ASC) order and admit while the RUNNING token
    * total stays within budget. This is the quota form the mixture ops
    * don't cover: c03/c08 admit a per-source *fraction* of documents
    * (rate-based, token-blind), c09 caps the *count* — but training
    * mixtures are specified in TOKENS (the FineWeb/Dolma per-dump
    * quotas), and docs vary 10× in length, so a token quota needs the
    * prefix-sum form. Determinism: the running sum is over INTEGER
    * token counts under a total order (rounded quality, then doc_id) —
    * exact in both engines, no float reduction anywhere → full SQL
    * oracle.
    *
    * Scale: one window shuffle on source (the running sum is inherently
    * sequential per source — no partial-aggregate shortcut exists for a
    * prefix sum that must stop mid-stream). A source far larger than
    * its budget pays for sorting rows that can never be admitted; the
    * production refinement is a t19-style quantile pre-estimate of the
    * admission quality threshold from a sample, then one exact pass
    * over docs above it — same answer whenever the estimate is
    * conservative, and the sorted mass shrinks to ~the budget. */
  def tokenBudgetAdmission(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select($"doc_id", $"source",
        round(TextAnalysis.qualityScoreCol($"text"), 6).as("quality"),
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("n_tok"))
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .filter($"cum_tok" <= budget)
      .select($"doc_id", $"source", $"n_tok", $"cum_tok")
  }

  def c10TokenBudget(s: SparkSession, d: String): DataFrame =
    tokenBudgetAdmission(documents(s, d), 400L)

  val c10Sql: String = {
    val q = TextAnalysis.qualitySqlExpr
    s"""WITH q AS (
       |  SELECT doc_id, source, ROUND($q, 6) AS quality,
       |    len(list_filter(t, x -> len(x) > 0)) AS n_tok
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
       |)
       |SELECT doc_id, source, n_tok, cum_tok FROM (
       |  SELECT doc_id, source, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM q)
       |WHERE cum_tok <= 400""".stripMargin
  }

  /** c11: c10's admission at 100 TB — prune with a histogram sketch,
    * then run the exact prefix sum over the survivors. c10's window
    * must SORT each source's full posting even though everything below
    * the admission cutoff can never be admitted; for a source 100× its
    * budget that is 100× wasted sort mass. The two-pass form every
    * quota system uses at scale: (1) one partial+final aggregate of
    * token mass per (source, quality bin) — the t19 fixed-bin sketch
    * discipline — and a per-source running mass over ≤ W bin rows picks
    * the highest bin whose top-down cumulative mass exceeds the budget;
    * (2) the exact c10 window runs only over docs in bins ≥ that cut.
    *
    * Same answer as c10 BY CONSTRUCTION, not approximately: the cut is
    * the HIGHEST bin whose top-down cumulative mass STRICTLY exceeds
    * the budget, so every doc in a bin below the cut already has more
    * than the full budget's worth of strictly-better tokens ahead of it
    * (bins are quality-monotone: IEEE multiply can't invert quality
    * order), and c10 would reject it no matter what — even an n_tok = 0
    * doc, whose own prefix sum equals the better mass. (A ≥ comparison
    * here would be wrong at exactly one boundary: better mass == budget
    * and a zero-token doc below the cut, which c10 admits at
    * cum_tok == budget. Strict > retains at most one extra bin and
    * closes that corner.) A pruned-in doc's predecessors in the
    * admission order are all pruned in, so the surviving prefix sums
    * are bit-identical. Hash-checked against the SAME DuckDB oracle as
    * c10 (the d17/s04 same-answer-scalable-plan precedent) and
    * spec-asserted equal to c10 — with the prune asserted LOAD-BEARING
    * (survivor count ≪ corpus) — under a source ~60× its budget.
    *
    * Scale: pass 1 is map-side-combined into ≤ W rows per source (no
    * row-level shuffle); the threshold window runs on the tiny bin
    * frame; the bin cuts broadcast back; pass 2's sort shrinks from the
    * corpus to ~the budget mass per source. */
  def tokenBudgetAdmissionPruned(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    tokenBudgetAdmissionPrunedWith(docs, budget,
      size(filter(split($"text", " "), t => length(t) > 0)).cast("long"))
  }

  /** Pass 1 + the cut filter of [[tokenBudgetAdmissionPruned]]: the
    * candidate frame the exact window actually sorts. Exposed so the
    * spec can assert the prune is load-bearing (candidates ≪ corpus on
    * an oversubscribed source), not just that the end result matches —
    * the equality assertion alone is vacuous when the prune no-ops. */
  private[graft] def prunedBudgetCandidates(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    prunedBudgetCandidatesWith(docs, budget,
      size(filter(split($"text", " "), t => length(t) > 0)).cast("long"))
  }

  /** [[prunedBudgetCandidates]] generalized over the token-count
    * expression — the prune's correctness argument never mentions the
    * denominator (bins are quality-monotone regardless of how tokens
    * are counted), so the same two-pass machinery serves the
    * whitespace budget (c11) and the BPE budget (c15) unchanged. */
  private[graft] def prunedBudgetCandidatesWith(docs: DataFrame, budget: Long,
                                               nTok: Column): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val W = 64 // quality ∈ [0,1] → 1/64 bins; /64 is exact in doubles
    val scored = docs.select($"doc_id", $"source",
      round(TextAnalysis.qualityScoreCol($"text"), 6).as("quality"),
      nTok.as("n_tok"))
      .withColumn("bin", floor($"quality" * W).cast("int"))
    val wTop = Window.partitionBy($"source").orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // highest bin whose top-down cumulative mass STRICTLY exceeds the
    // budget (cum grows as bins descend, so max() picks the first such
    // bin — see the Scaladoc for why ≥ would mis-prune a zero-token
    // boundary doc); a source whose whole mass fits keeps everything
    // (cut 0 — quality is never negative, so bin ≥ 0 always)
    val cuts = scored.groupBy($"source", $"bin").agg(sum($"n_tok").as("mass"))
      .withColumn("cum", sum($"mass").over(wTop))
      .groupBy($"source")
      .agg(coalesce(max(when($"cum" > budget, $"bin")), lit(0)).as("cut"))
    scored.join(broadcast(cuts), "source").filter($"bin" >= $"cut")
  }

  def c11TokenBudgetPruned(s: SparkSession, d: String): DataFrame =
    tokenBudgetAdmissionPruned(documents(s, d), 400L)

  // ---- c14: token budget on REAL tokenizer counts (t29+t30 composed) ----

  /** c14: c10's per-source token-budget admission denominated in REAL
    * tokenizer tokens — t29 trains the merge table, t30's encoder
    * counts each doc, and the same exact prefix-sum window admits
    * against the budget. Training-data budgets are contracted in
    * tokenizer tokens, not whitespace words (a 1T-token mix means
    * tokenizer tokens); until t30 existed every token-denominated
    * operator here approximated with whitespace counts. Plan shape vs
    * c10 is identical — the count is still one per-row expression
    * (the broadcast-style merge table rides inside
    * [[graft.functions.BpeEncode]]), so the operator stays one
    * map + one per-source window at any scale. Budget is larger than
    * c10's because 40-merge BPE tokens sit near character granularity
    * (~5–6× whitespace counts on this corpus). Deterministic end to
    * end (t29's bit-deterministic training, pure per-row encode,
    * integer sums) → golden-hashed, with the admission's maximality
    * property asserted in the spec. */
  def c14TokenBudgetBpe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = TextAnalysis.bpeTrain(docs.select($"doc_id", $"text"), 40)
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select($"doc_id", $"source",
        round(TextAnalysis.qualityScoreCol($"text"), 6).as("quality"),
        size(graft.functions.BpeEncode($"text", merges))
          .cast("long").as("n_tok"))
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .filter($"cum_tok" <= 2400L)
      .select($"doc_id", $"source", $"n_tok", $"cum_tok")
  }

  // ---- c15: c14's admission at 100 TB (sketch-pruned BPE budget) ----

  /** c15: the histogram-pruned form of c14 — the scale path for the
    * BPE-denominated token budget, completing the denomination
    * unification: every budget operator now has both an exact form and
    * a same-answer pruned form in BOTH denominations (c10/c11
    * whitespace, c14/c15 BPE). The c11 two-pass machinery is reused
    * verbatim with the token-count expression swapped to t30's encode
    * ([[prunedBudgetCandidatesWith]]): pass 1 aggregates BPE-token mass
    * per (source, quality bin) map-side into ≤ 64 rows per source and
    * picks the conservative cut; pass 2 runs c14's exact window over
    * the survivors only. Same answer as c14 BY CONSTRUCTION — the
    * strict-> cut argument is denomination-blind (bins are
    * quality-monotone; token counts only weight the bin masses) — so
    * c15 hash-checks against c14's OWN golden snapshot, independently
    * proving the prune preserves the admission (the c11↔c10 / d17↔d08
    * same-answer-scalable-plan precedent). The prune is asserted
    * load-bearing in spec under a BPE-oversubscribed source. */
  def c15TokenBudgetBpePruned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = TextAnalysis.bpeTrain(docs.select($"doc_id", $"text"), 40)
    tokenBudgetAdmissionPrunedWith(docs, 2400L,
      size(graft.functions.BpeEncode($"text", merges)).cast("long"))
  }

  /** The pruned admission over any token-count expression — c11's
    * window pass over [[prunedBudgetCandidatesWith]] survivors. */
  private[graft] def tokenBudgetAdmissionPrunedWith(docs: DataFrame, budget: Long,
                                                    nTok: Column): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"source")
      .orderBy($"quality".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prunedBudgetCandidatesWith(docs, budget, nTok)
      .withColumn("cum_tok", sum($"n_tok").over(w))
      .filter($"cum_tok" <= budget)
      .select($"doc_id", $"source", $"n_tok", $"cum_tok")
  }

  // ---- t31: context-window packing on REAL tokenizer counts ----

  /** t31: t12's context-window packing denominated in BPE tokens —
    * packing is THE operator whose output feeds a trainer's context
    * windows, so real tokenizer counts matter most here: a 512-token
    * window is 512 TOKENIZER tokens, and whitespace counts would
    * misplace every document boundary by the ~5–6× granularity gap.
    * Same machinery as t12 (per-lang running sum → window id →
    * per-pack aggregate — one window exchange on lang, never a global
    * order; at 100 TB shard the key finer, e.g. (lang, hash bucket)),
    * with n_tok from the t29-trained table applied by
    * [[graft.functions.BpeEncode]] — still one per-row codegen'd
    * expression, so the plan shape is bit-identical to t12's. Window
    * size 2048 ≈ t12's 512 scaled by the observed BPE/whitespace
    * ratio, so pack counts stay comparable. Deterministic end to end
    * (t29 training, pure encode, integer sums) → golden-hashed, with
    * the packing recomputed locally from t30's counts in the spec. */
  def t31BpePacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val merges = TextAnalysis.bpeTrain(docs.select($"doc_id", $"text"), 40)
    val T = 2048
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select($"lang", $"doc_id",
        size(graft.functions.BpeEncode($"text", merges))
          .cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("pack_id", floor(($"cum" - $"n_tok") / T))
      .groupBy($"lang", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  // ---- c16: DSIR importance resampling (Xie et al. 2023) ----

  /** c16: data selection via importance resampling — the published
    * no-classifier technique (Xie et al. 2023, arXiv:2302.03169) for
    * choosing raw-pool documents that LOOK LIKE a small high-quality
    * target corpus: fit two bag-of-hashed-bigram LMs (target, pool),
    * score every pool doc by its log importance weight
    * log w_d = Σ_occurrences λ_b(occurrence) with
    * λ_b = log₂P̂_target(b) − log₂P̂_pool(b) (add-one smoothing over the
    * B hashed buckets), and keep the top-K. This is the standard
    * selection step between surface heuristics (t02/t22) and a neural
    * scorer: quality classifiers need labels, DSIR needs only the
    * target sample. The paper samples with Gumbel noise; deterministic
    * top-K by weight (ties → doc_id) is the derandomization an audited
    * pipeline can re-run bit-identically. Both the raw sum (the paper's
    * weight — length-biased, as Σλ grows with doc length) and the
    * per-bigram average (the length-normalized diagnostic) are emitted.
    *
    * Determinism: bucket ids are xxhash64 (engine-side, fixed seed);
    * bucket counts and totals are integer aggregates (order-free);
    * each λ_b is a pure per-value function of integer counts (log2 is
    * transcendental → cross-engine unsafe → golden oracle, the t21
    * discipline), quantized to 6 dp; the per-doc sum — the one
    * order-varying float reduction — runs through `Det.dsum` (exact
    * decimal); ranking is total-ordered (6 dp weight, doc_id).
    * Partition invariance probed in PartitionInvarianceSpec.
    *
    * Scale (100 TB): hashing n-grams into B buckets is exactly what
    * makes DSIR feasible where an unhashed bigram LM (t21's model
    * frame) carries vocabulary-mass state — each LM is one integer
    * aggregate with map-side combine whose shuffle fan-in is ≤ B rows
    * TOTAL (B = 2048 here; the paper's 10⁴ changes nothing
    * structurally). The λ table (≤ B rows, a few KB) broadcasts to the
    * scoring join (fan-out exactly 1 per occurrence; bucket keys are
    * hash-uniform, no skew); per-doc reduction is one partial+final
    * agg; the final top-K is a TakeOrdered. No pair term, nothing
    * quadratic, model state O(B) regardless of corpus size. The
    * target side is small by construction (d07's premise). */
  def c16DsirSelection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // stand-in target: two sources play the curated high-quality set
    // (fan-out measured WORSE here: A/B 1.63 vs 2.42 — the pool and
    // target branches both re-execute the exchange)
    val docs = documents(s, d).select($"doc_id", $"text", $"source")
    val isTarget = $"source".isin("src1", "src2")
    dsirSelect(docs.filter(!isTarget), docs.filter(isTarget),
      buckets = 2048, topK = 100)
  }

  /** Frame-taking core of c16: pool and target as (doc_id, text[, …])
    * frames. Docs with < 2 tokens have no features and are never
    * selected (not scorable ⇒ not comparable to scored docs). */
  private[graft] def dsirSelect(pool: DataFrame, target: DataFrame,
                                buckets: Int, topK: Int): DataFrame = {
    val s = pool.sparkSession
    import s.implicits._
    // one shared feature frame feeds both the pool LM and the scoring
    // join. NOTE the physical plan still explodes the pool twice (the
    // λ broadcast and the score agg are different subtrees, and a
    // registered entry must stay an unmaterialized pure plan — no
    // cache to leak); the production path has no such duplication:
    // fit once via dsirModel → persist → dsirScoreWith per batch pays
    // exactly one explode (measured 0.22× the fit-inclusive cost).
    val poolF = dsirFeats(pool, buckets)
    dsirScoreFeats(poolF, dsirModelFrom(poolF, target, buckets))
      .orderBy($"logw_r".desc, $"doc_id".asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy($"logw_r".desc, $"doc_id".asc)))
  }

  private def dsirFeats(df: DataFrame, buckets: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val t = split($"text", " ")
    val n1 = greatest(size(t) - 1, lit(0))
    val zipped = arrays_zip(slice(t, lit(1), n1), slice(t, lit(2), n1))
    df.filter(size(t) >= 2)
      .select($"doc_id", explode(zipped).as("p"))
      .select($"doc_id",
        pmod(xxhash64(concat_ws(" ", $"p.0", $"p.1")), lit(buckets.toLong)).as("b"))
  }

  /** The fitted DSIR model as a first-class (b, lam) frame — the
    * artifact a production pipeline PERSISTS once and scores every
    * candidate batch against (the t30 merge-table / c12 curation-state
    * / d19 window-set discipline: fit cost is paid at model-build
    * time, never per batch). A sentinel row b = −1 carries the
    * UNSEEN-bucket weight (add-one smoothing with zero counts on both
    * sides), so a reloaded model is self-contained: a delta doc whose
    * bigrams hash to buckets the fit never saw still scores, with
    * exactly the smoothing the fit implies. */
  private[graft] def dsirModel(pool: DataFrame, target: DataFrame,
                               buckets: Int): DataFrame =
    dsirModelFrom(dsirFeats(pool, buckets), target, buckets)

  private def dsirModelFrom(poolF: DataFrame, target: DataFrame,
                            buckets: Int): DataFrame = {
    val s = poolF.sparkSession
    import s.implicits._
    val tCnt = dsirFeats(target, buckets).groupBy($"b").agg(count(lit(1)).as("ct"))
    val pCnt = poolF.groupBy($"b").agg(count(lit(1)).as("cp"))
    // scalar totals: 1-row aggregates (the t21/c04 `.head()` precedent)
    val tTot = tCnt.agg(sum($"ct")).head().getLong(0)
    val pTot = pCnt.agg(sum($"cp")).head().getLong(0)
    // λ per bucket: pure per-value function of integer counts, 6 dp.
    // Buckets seen by EITHER side get a row (full outer); zero counts
    // on the missing side are the same add-one smoothing the sentinel
    // encodes. The model row count is ≤ min(2·B, vocab) — tiny.
    def lamExpr(ct: Column, cp: Column): Column = round(
      log(2.0, (ct.cast("double") + 1.0) / lit((tTot + buckets).toDouble)) -
      log(2.0, (cp.cast("double") + 1.0) / lit((pTot + buckets).toDouble)), 6)
    pCnt.join(tCnt, Seq("b"), "full_outer")
      .select($"b", lamExpr(coalesce($"ct", lit(0L)), coalesce($"cp", lit(0L))).as("lam"))
      .unionByName(s.range(1).select(lit(-1L).as("b"),
        lamExpr(lit(0L), lit(0L)).as("lam")))
  }

  /** Score ANY (doc_id, text, …) frame against a fitted — possibly
    * parquet-reloaded — model: one bigram explode + broadcast λ join +
    * exact-decimal per-doc sum. No pool rescan, no refit; this is the
    * per-batch operating cost of DSIR at 100 TB. */
  private[graft] def dsirScoreWith(docs: DataFrame, model: DataFrame,
                                   buckets: Int): DataFrame =
    dsirScoreFeats(dsirFeats(docs, buckets), model)

  private def dsirScoreFeats(feats: DataFrame, model: DataFrame): DataFrame = {
    val s = feats.sparkSession
    import s.implicits._
    // the sentinel row (b = -1) carries the smoothed unseen-bucket
    // weight; a persisted/hand-built model missing it is malformed —
    // fail loudly with the fix, not a bare NoSuchElementException
    val unseenLam = model.filter($"b" === -1L).select($"lam").collect()
      .headOption.map(_.getDouble(0)).getOrElse(throw new IllegalArgumentException(
        "DSIR model frame has no unseen-bucket sentinel row (b = -1); " +
        "refit with dsirFit or add the smoothed-default row to the artifact"))
    feats
      .join(broadcast(model.filter($"b" =!= -1L)), Seq("b"), "left")
      .withColumn("lam", coalesce($"lam", lit(unseenLam)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), graft.Det.dsum($"lam").as("logw"))
      .select($"doc_id", $"n_bigrams", round($"logw", 6).as("logw_r"),
        round($"logw" / $"n_bigrams", 6).as("avg_lam_r"))
  }

  // ---- c17: cross-modal decontamination report ----

  /** c17: the decontamination DATASHEET — one row per corpus document
    * combining the three modality verdicts against one benchmark suite
    * (docs with doc_id < 20, their embeddings, their payload bytes):
    * n-gram overlap (the d07/d16 rule — verbatim contamination),
    * embedding proximity (the s19 rule — paraphrased/translated
    * contamination n-grams miss), and payload fingerprints (the m09
    * rule — byte-identical or re-encoded assets). Each tier carries
    * its best evidence (which benchmark doc, how strong), so a release
    * review reads ONE artifact instead of three, and the disagreement
    * rows — flagged semantically but not textually — are exactly the
    * paraphrase cases a human audits first.
    *
    * Scale: pure composition of the three audited mechanisms, each of
    * which broadcasts its (small) benchmark artifact and streams the
    * corpus — the Bloom bits (d16), the vector matrix
    * ([[graft.functions.MaxCosineAgainst]]), the fingerprint bands +
    * sha manifest (m09). The final assembly is three left equi-joins
    * on doc_id (the embedding audit is a full per-doc frame; the text
    * and payload tiers surface only hits, nulls mean clean). Inherits
    * each tier's no-corpus² guarantee; nothing new shuffles except the
    * id-keyed joins. Engine-side hashes (Bloom, blockhash) → golden
    * (the m09 discipline); tier agreement with the three standalone
    * entries is spec-asserted so the report cannot drift from the
    * operators it summarizes. */
  def c17DecontaminationReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d).select($"doc_id", $"text")
    val benchD = docs.filter($"doc_id" < 20)
    val corpusD = docs.filter($"doc_id" >= 20)

    // text tier: strongest benchmark overlap per doc (d16 machinery)
    val wT = Window.partitionBy($"doc_id").orderBy($"n_shared".desc, $"bench_id".asc)
    val textBest = bloomContaminationCounts(corpusD, benchD)
      .withColumn("rn", row_number().over(wT)).filter($"rn" === 1)
      .select($"doc_id", $"bench_id".as("text_bench_id"),
        $"n_shared".as("text_shared"))

    // semantic tier: s19's full audit over the same id split
    val e = embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val semAudit = Similarity.benchDecontaminationAudit(
        e.filter($"vec_id" >= 20), e.filter($"vec_id" < 20), tau = 0.45)
      .select($"vec_id".as("doc_id"), $"bench_id".as("sem_bench_id"),
        $"cosine_r".as("sem_cosine_r"), $"contaminated".as("sem_hit"))

    // payload tier: m09's full audit over the same id split
    val pay = docs.select($"doc_id", encode($"text", "utf-8").as("payload"))
    val payAudit = Multimodal.payloadDecontamination(
        pay.filter($"doc_id" >= 20), pay.filter($"doc_id" < 20), maxHamming = 7)
      .select($"doc_id", $"bench_id".as("payload_bench_id"),
        $"hamming", $"byte_exact", $"contaminated".as("payload_hit"))

    corpusD.select($"doc_id")
      .join(textBest, Seq("doc_id"), "left")
      .join(semAudit, Seq("doc_id"), "left")
      .join(payAudit, Seq("doc_id"), "left")
      .select($"doc_id",
        $"text_bench_id".isNotNull.as("text_hit"),
        $"text_bench_id", coalesce($"text_shared", lit(0L)).as("text_shared"),
        coalesce($"sem_hit", lit(false)).as("sem_hit"),
        $"sem_bench_id", $"sem_cosine_r",
        coalesce($"payload_hit", lit(false)).as("payload_hit"),
        $"payload_bench_id", $"hamming",
        coalesce($"byte_exact", lit(false)).as("byte_exact"))
      .withColumn("contaminated_any",
        $"text_hit" || $"sem_hit" || $"payload_hit")
  }

  // ---- c13: per-document rejection-reason audit ----

  /** c13: WHY each document left the pipeline — the per-doc provenance
    * record behind c02's aggregate funnel. Every curation run that
    * drops 60% of a crawl owes its operators an answer to "show me why
    * doc X is gone" (debugging a filter regression, appealing a
    * wrongly-dropped source, documenting the recipe); the answer is the
    * FIRST stage a doc failed, in c01's canonical stage order, or
    * `kept`. Zero new computation: one CASE over [[curationMarks]]'
    * monotone flag chain (m_surv ⊆ m_f3 ⊆ m_f2 ⊆ m_f1 ⊆ m_lang), so the
    * audit is plan-identical to c01 plus a projection — and the oracle
    * is the same shared CTE chain, which hash-pins the audit to the
    * pipeline it explains (a drifted reason column would mean c01
    * itself drifted). */
  def c13RejectionReasons(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    curationMarks(s, d).select($"doc_id",
      when(!$"m_lang", "1_lang")
        .when(!$"m_f1", "2_quality")
        .when(!$"m_f2", "3_exact_dup")
        .when(!$"m_f3", "4_near_dup")
        .when(!$"m_surv", "5_contaminated")
        .otherwise("6_kept").as("reason"))
  }

  val c13Sql: String =
    s"""$curationCtes
       |SELECT d.doc_id,
       |  CASE
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM lang_keep) THEN '1_lang'
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM qual_keep) THEN '2_quality'
       |    WHEN d.doc_id NOT IN (SELECT doc_id FROM f2) THEN '3_exact_dup'
       |    WHEN d.doc_id IN (SELECT doc_id FROM near_rejected) THEN '4_near_dup'
       |    WHEN d.doc_id IN (SELECT doc_id FROM contaminated) THEN '5_contaminated'
       |    ELSE '6_kept'
       |  END AS reason
       |FROM documents d WHERE d.doc_id >= 20""".stripMargin

  // ---- c12: incremental curation (delta admission ≡ full recompute) ----

  /** c12: INCREMENTAL curation — admit a newly-arrived delta against a
    * standing curated corpus and return the new curated set, provably
    * EQUAL to re-running c01 over the whole corpus. This is how c01
    * actually runs at 100 TB: the corpus is curated once, then daily
    * deltas (~0.1–1% of corpus mass) are admitted against saved state —
    * re-running the full pipeline per delta re-pays the corpus-sized
    * scans and the pair join ~100–1000× over.
    *
    * Why incremental admission can be EXACT (not approximate): c01's
    * stage semantics localize against a small standing state when delta
    * doc_ids sort after standing doc_ids (arrival order — ids are
    * ingestion-ordered, so a later batch's ids are higher):
    *
    *  - language/quality are per-row — no cross-doc state at all;
    *  - exact keep-first: a delta doc loses iff ANY earlier f1 doc has
    *    the same text. The standing f2 survivors carry exactly one doc
    *    per standing f1 text (same text ⇒ same score ⇒ same f1 fate),
    *    so the standing f2 CONTENT-HASH SET is a complete exact-dedup
    *    index of the standing run — one broadcast-sized anti-join plus
    *    the usual min-id window within the delta;
    *  - near-dup keep-first: c01 kills d2 of any J ≥ τ pair at the f2
    *    LEVEL (d1 need not itself survive near-dup), so the state is
    *    the standing f2 shingle frame, and the kill test is d11's
    *    asymmetric delta-vs-corpus prefix join ([[Dedup
    *    .deltaPairsFromShingled]]) — delta prefixes probe the standing
    *    index; no standing-standing pair is ever re-examined. Standing
    *    ids all sort below delta ids, so every cross pair orients
    *    standing = d1 (kills the delta doc), matching c01 exactly;
    *  - decontamination is per-doc against the broadcast benchmark set.
    *
    * And standing docs are UNAFFECTED by the delta: every kill rule
    * targets the higher id, so the standing survivor set is closed —
    * the previous run's output is reused verbatim, never recomputed.
    *
    * The driver hash-checks c12 against c01's OWN oracle (the full-
    * corpus CTE chain): equality of the incremental path with the full
    * recompute is the entire contract, and it must hold for ANY split
    * boundary ([[graft.CurationSpec]] sweeps boundaries including the
    * degenerate empty-delta/empty-standing ends). Cost here includes
    * building the standing state in-plan; production loads it from the
    * previous run's parquet (the [[streaming.StreamingCuration]]
    * history pattern), leaving only the ∝ |delta| admission work. */
  def incrementalCuration(docs: DataFrame, boundary: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val all = docs.select($"doc_id", $"text")
    val bench = all.filter($"doc_id" < 20)
    val standing = all.filter($"doc_id" >= 20 && $"doc_id" < boundary)
    val delta = all.filter($"doc_id" >= boundary)
    // materialize the state through parquet exactly as production does:
    // the previous run WRITES curationState, the delta run READS it —
    // which also means the state plan executes once, not once per the
    // three places admitDelta consumes it. The dir can't be deleted
    // here (the returned plan reads it lazily), so it's registered for
    // JVM-exit cleanup — every verify/bench/spec run used to leave one
    // state dump per invocation in /tmp (round-10 advice)
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-c12-state").toString
    // bound the in-flight set (round-11 advice): a long-lived session
    // calling c12 repeatedly otherwise accumulates one state dump per
    // invocation until JVM exit. FIFO-evict beyond a small window — an
    // evicted dir backs a plan returned 8 invocations ago, long since
    // consumed (each invocation here materializes its own state first)
    c12StateDirs.admit(stateDir)
    curationState(standing, bench).write.mode("overwrite").parquet(stateDir)
    admitDelta(s.read.parquet(stateDir), delta, bench)
  }

  private val c12StateDirs = new graft.Scratch.DirFifo(8)

  /** The saved artifact a production run persists alongside its output:
    * ONE narrow frame over the standing f2 (exact-dedup survivor) set —
    * (doc_id, quality, th = content hash, sh = sorted shingles,
    * m_surv) — everything [[admitDelta]] ever reads. ~100 B/doc of the
    * KEPT corpus; the raw text never needs re-reading. */
  private[graft] def curationState(standing: DataFrame, bench: DataFrame): DataFrame = {
    val s = standing.sparkSession
    import s.implicits._
    // th and sh come straight off the marks pass (r19): th is the same
    // when(m_f1, sha2(text)) every m_f2 row carries, sh the same sorted
    // shingle array the pair join consumed — f2sh omits empty shingle
    // sets, so short m_f2 docs coalesce back to the empty array the
    // previous inline shingling produced for them
    val (marks, f2sh) = curationMarksOf(standing, bench)
    marks.filter($"m_f2")
      .join(f2sh, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"quality", $"th",
        coalesce($"sh", typedlit(Array.empty[Long])).as("sh"), $"m_surv")
  }

  /** Delta admission against a loaded [[curationState]] — the part a
    * production delta run actually executes; every step costs
    * ∝ |delta| against the state's inverted index. */
  private[graft] def admitDelta(state: DataFrame, delta: DataFrame,
                                bench: DataFrame): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    state.filter($"m_surv").select($"doc_id", $"quality")
      .unionByName(admitDeltaState(state, delta, bench)
        .filter($"m_surv").select($"doc_id", $"quality"))
  }

  /** One admission step as STATE ROWS: the delta's f2-level rows in
    * [[curationState]]'s own shape (doc_id, quality, th, sh, m_surv) —
    * what an incremental runner APPENDS to its saved state so the next
    * delta admits against state ⊕ this. m_surv carries the admission
    * verdict; non-f2 delta docs (failed lang/quality, or exact-dup of
    * state/earlier-in-delta) produce no row, exactly as they produce
    * none in a full run's f2. [[graft.streaming.StreamingCuration
    * .pipelineAdmission]] folds this per micro-batch. */
  private[graft] def admitDeltaState(state: DataFrame, delta: DataFrame,
                                     bench: DataFrame): DataFrame =
    admitDeltaStateWith(state, delta, bench,
      (stSh, dSh) => Dedup.deltaPairsFromShingled(stSh, dSh, 0.8))

  /** [[admitDeltaState]] with a pluggable near-dup pair source
    * `pairFn(standingSh, deltaSh)`: the registered c12 entry keeps the
    * EXACT prefix join (self-contained against its DuckDB oracle);
    * [[graft.streaming.StreamingCuration.admitPipelineBatch]] passes
    * the persisted-banded-lane probe ([[Dedup.probeLshFromShingled]])
    * so a long-running admission loop never re-derives standing
    * shingle structure per micro-batch. */
  private[graft] def admitDeltaStateWith(state: DataFrame, delta: DataFrame,
      bench: DataFrame,
      pairFn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val standingHashes = state.select($"th")
    val standingF2Sh = state.select($"doc_id", $"sh").filter(size($"sh") > 0)
    val score = TextAnalysis.qualityScoreCol($"text")
    val dF1 = delta
      .filter(TextAnalysis.langPredCol($"text") === "en" && score >= 0.5)
      .withColumn("quality", round(score, 6))
      .withColumn("th", sha2($"text", 256))
    // exact-dup membership as a SCAN of the standing hash column, never
    // a standing-side shuffle or broadcast: the standing `th` lane
    // streams map-side past the broadcast delta hash set (left-semi),
    // and only the HIT set — ≤ |delta| distinct hashes — broadcasts
    // into the anti-join. (A direct left-anti would make Spark either
    // broadcast the UNBOUNDED standing side or shuffle both.)
    val hitTh = standingHashes
      .join(broadcast(dF1.select($"th").distinct()), Seq("th"), "left_semi")
      .distinct()
    val wTxt = Window.partitionBy($"th").orderBy($"doc_id")
    // r19 (guide §2.4): materialized — the delta's f2 frame is narrow
    // (~100 B/doc + shingles) and referenced up to six times (the pair
    // source references its delta side four ways, plus the
    // contamination explode and the final verdict join); each
    // unmaterialized reference re-ran the delta's lang/quality regex,
    // the keep-first window and the shingle sort. Released at the
    // consumer's next Scratch.drain() (Verify/Bench per query, the
    // streaming admission loop per batch).
    val dF2 = graft.Scratch.track(dF1
      .withColumn("rn", row_number().over(wTxt)).filter($"rn" === 1)
      .join(broadcast(hitTh), Seq("th"), "left_anti")
      .select($"doc_id", $"quality", $"th",
        array_sort(Dedup.shingleHashes($"text")).as("sh"))
      .localCheckpoint())
    val dSh = dF2.select($"doc_id", $"sh").filter(size($"sh") > 0)
    // every delta-touching pair's GREATER endpoint is a delta doc (the
    // ids-sort-after-state contract), so d2 is the doc to kill — no
    // boundary filter needed. Materialized: it is the OUTPUT of the
    // pair join and is referenced twice (contamination anti-join +
    // final verdict join).
    val nearKilled = graft.Scratch.track(pairFn(standingF2Sh, dSh)
      .select($"d2".as("doc_id")).distinct()
      .localCheckpoint())
    val benchEx = bench.select($"doc_id".as("bench_id"),
      explode(Dedup.shingleHashes($"text")).as("sg"))
    val contaminated = contaminationCounts(
        dSh.join(nearKilled, Seq("doc_id"), "left_anti")
          .select($"doc_id", explode($"sh").as("sg")),
        benchEx)
      .select($"doc_id").distinct()
    dF2
      .join(nearKilled.withColumn("nk", lit(1)), Seq("doc_id"), "left_outer")
      .join(contaminated.withColumn("ck", lit(1)), Seq("doc_id"), "left_outer")
      .select($"doc_id", $"quality", $"th", $"sh",
        ($"nk".isNull && $"ck".isNull).as("m_surv"))
  }

  /** Registered split: the last fifth of the id range plays the delta —
    * large enough that every admission rule fires at every SF. The
    * boundary is derived from one max() scalar; ANY boundary yields the
    * same output (the point of the operator), so the driver's c01-oracle
    * hash-check is boundary-independent. */
  def c12IncrementalCuration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    incrementalCuration(docs, 20L.max(maxId - (maxId - 19L) / 5L))
  }

  // ---- c24: data-constrained token-budget allocation (epoch caps) ----

  /** c24: how many EPOCHS of each source to train on under a fixed
    * token budget — the data-constrained allocation planner
    * (Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models": repeating data up to ~4 epochs is nearly as good as
    * fresh data; beyond that returns decay fast). c03/c08 decide the
    * mixture SHAPE and c10/c14 admit documents INTO a budget; c24
    * answers the remaining planning question — with budget T bigger
    * than the corpus, which sources get repeated and how much?
    *
    * Model: source s has unique token mass m_s and a quality weight
    * w_s = m_s · q̄_s (t02's mean quality — higher-quality sources
    * deserve more of the budget per token they own); its repeat cap is
    * c_s = E·m_s tokens (the ≤ E epochs rule). Allocation is
    * WATER-FILLING: grow a fill level λ and give each source
    * min(λ·w_s, c_s) until Σ = T. Closed form (sources sorted by
    * r_s = c_s/w_s ascending): the capped set is the maximal prefix
    * with r_s ≤ λ_incl(s) = (T − Σ_{t≤s} c_t)/(W − Σ_{t≤s} w_t), and
    * the final level is λ* over the uncapped remainder. With the
    * entry's uniform E the ratio r_s = E/q̄_s depends only on quality:
    * the BEST sources hit their epoch cap first and the overflow
    * water-falls down the quality order — exactly the published
    * intuition, priced per source.
    *
    * Determinism engineering: q̄ is 6dp (the c04 decimal-mean trick),
    * the weight lifts to an exact integer micro-scale (w_µ =
    * m · round(q̄·10⁶) — a long), every cumulative/total sum is
    * integer, and the capped decision is the CROSS-MULTIPLIED exact
    * comparison c·(W_µ−cumw_µ) ≤ (T−cumc)·w_µ in DECIMAL(38,0) — no
    * float anywhere in set membership. Only the fill level λ* and the
    * final allocations are doubles (correctly-rounded division and
    * multiplication of identical operands — cross-engine safe, the
    * c08 √ argument), rounded 6dp on output. Full SQL oracle.
    *
    * Scale: one partial+final per-doc aggregate (the only corpus-sized
    * work), then |sources| rows through single-partition windows — the
    * t36/c02 small-frame discipline (a row per SOURCE, thousands at
    * most, nothing corpus-sized near a window). */
  def c24BudgetAllocation(s: SparkSession, d: String): DataFrame =
    budgetAllocation(documents(s, d), maxEpochs = 4, budgetOverMassNum = 2,
      budgetOverMassDen = 1)

  /** The allocator over any (source, text) frame: budget
    * T = ⌊mass · num/den⌋ tokens, per-source cap = maxEpochs · m_s. */
  def budgetAllocation(docs: DataFrame, maxEpochs: Int,
      budgetOverMassNum: Long, budgetOverMassDen: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val perDoc = docs.select($"source",
      size(split($"text", " ")).cast("long").as("n_tok"),
      round(TextAnalysis.qualityScoreCol($"text"), 6).as("q"))
    val src = perDoc.groupBy($"source")
      .agg(sum($"n_tok").as("m"), count(lit(1)).as("n_docs"),
        graft.Det.dsum($"q").as("qs"))
      .select($"source", $"m", $"n_docs",
        round($"qs" / $"n_docs", 6).as("qbar"))
      .withColumn("w_u", $"m" * round($"qbar" * 1e6).cast("long"))
      .withColumn("cap", $"m" * maxEpochs)
    val tot = src.agg(sum($"m").as("mass"), sum($"w_u").as("w_tot"))
      .select((($"mass" * budgetOverMassNum) / budgetOverMassDen)
        .cast("long").as("budget"), $"w_tot")
    // |sources| rows: the single-partition window is deliberate (t36
    // discipline — nothing corpus-sized reaches it)
    val ord = Window.orderBy(
      ($"cap".cast("double") / $"w_u".cast("double")).asc, $"source".asc)
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("cumc", sum($"cap").over(ord))
      .withColumn("cumw_u", sum($"w_u").over(ord))
      .withColumn("capped",
        $"cap".cast("decimal(38,0)") *
          ($"w_tot" - $"cumw_u").cast("decimal(38,0)") <=
        ($"budget" - $"cumc").cast("decimal(38,0)") *
          $"w_u".cast("decimal(38,0)"))
    val lam = ranked
      .agg(coalesce(max(when($"capped", $"cumc")), lit(0L)).as("c_star"),
        coalesce(max(when($"capped", $"cumw_u")), lit(0L)).as("w_star"))
    ranked.crossJoin(broadcast(lam))
      .withColumn("lam_u", when($"w_tot" === $"w_star", lit(0.0))
        .otherwise(($"budget" - $"c_star").cast("double") /
          ($"w_tot" - $"w_star").cast("double")))
      .withColumn("alloc", when($"capped", $"cap".cast("double"))
        .otherwise(least($"lam_u" * $"w_u".cast("double"),
          $"cap".cast("double"))))
      .select($"source", $"m".as("n_tokens"), $"n_docs",
        $"qbar".as("mean_quality_r"), $"cap".as("cap_tokens"), $"capped",
        round($"alloc", 6).as("alloc_tokens_r"),
        round($"alloc" / $"m", 6).as("epochs_r"))
  }

  /** Oracle: the identical closed form in SQL — integer cumulatives,
    * exact cross-multiplied capped set, double fill level. */
  val c24Sql: String = {
    val t02 = TextAnalysis.t02Sql.replace("\n", "\n  ")
    s"""WITH q AS (
       |  $t02
       |), perdoc AS (
       |  SELECT d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |    q.quality AS q
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id
       |), src AS (
       |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS m,
       |    COUNT(*) AS n_docs,
       |    ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
       |      AS qbar
       |  FROM perdoc GROUP BY 1
       |), w AS (
       |  SELECT source, m, n_docs, qbar,
       |    m * CAST(ROUND(qbar * 1000000, 0) AS BIGINT) AS w_u,
       |    m * 4 AS cap
       |  FROM src
       |), tot AS (
       |  SELECT CAST((SUM(m) * 2) / 1 AS BIGINT) AS budget,
       |    CAST(SUM(w_u) AS BIGINT) AS w_tot
       |  FROM w
       |), ranked AS (
       |  SELECT w.*, tot.budget, tot.w_tot,
       |    CAST(SUM(cap) OVER ord AS BIGINT) AS cumc,
       |    CAST(SUM(w_u) OVER ord AS BIGINT) AS cumw_u
       |  FROM w CROSS JOIN tot
       |  WINDOW ord AS (ORDER BY CAST(cap AS DOUBLE) / CAST(w_u AS DOUBLE),
       |                 source)
       |), flags AS (
       |  SELECT *,
       |    CAST(cap AS DECIMAL(38,0)) * CAST(w_tot - cumw_u AS DECIMAL(38,0))
       |      <= CAST(budget - cumc AS DECIMAL(38,0)) * CAST(w_u AS DECIMAL(38,0))
       |      AS capped
       |  FROM ranked
       |), lam AS (
       |  SELECT COALESCE(MAX(CASE WHEN capped THEN cumc END), 0) AS c_star,
       |    COALESCE(MAX(CASE WHEN capped THEN cumw_u END), 0) AS w_star
       |  FROM flags
       |), alloc AS (
       |  SELECT f.*, CASE WHEN f.w_tot = l.w_star THEN 0.0
       |    ELSE CAST(f.budget - l.c_star AS DOUBLE)
       |      / CAST(f.w_tot - l.w_star AS DOUBLE) END AS lam_u
       |  FROM flags f CROSS JOIN lam l
       |)
       |SELECT source, m AS n_tokens, n_docs, qbar AS mean_quality_r,
       |  cap AS cap_tokens, capped,
       |  ROUND(CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |    ELSE LEAST(lam_u * CAST(w_u AS DOUBLE), CAST(cap AS DOUBLE)) END, 6)
       |    AS alloc_tokens_r,
       |  ROUND(CASE WHEN capped THEN CAST(cap AS DOUBLE)
       |    ELSE LEAST(lam_u * CAST(w_u AS DOUBLE), CAST(cap AS DOUBLE)) END
       |    / m, 6) AS epochs_r
       |FROM alloc""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c24_budget_allocation" -> (c24BudgetAllocation _),
    "c12_incremental_curation" -> (c12IncrementalCuration _),
    "c13_rejection_reasons" -> (c13RejectionReasons _),
    "c09_source_cap"        -> (c09SourceCap _),
    "c10_token_budget"      -> (c10TokenBudget _),
    "c11_token_budget_pruned" -> (c11TokenBudgetPruned _),
    "c14_token_budget_bpe"  -> (c14TokenBudgetBpe _),
    "c15_token_budget_bpe_pruned" -> (c15TokenBudgetBpePruned _),
    "c16_dsir_selection"    -> (c16DsirSelection _),
    "c17_decontamination_report" -> (c17DecontaminationReport _),
    "t31_bpe_packing"       -> (t31BpePacking _),
    "c08_temperature_mix"   -> (c08TemperatureMix _),
    "d13_source_overlap"    -> ((s: SparkSession, d: String) => d13SourceOverlap(s, d)),
    "c07_snapshot_diff"     -> (c07SnapshotDiff _),
    "c05_leakage_safe_split" -> (c05LeakageSafeSplit _),
    "c01_curation_pipeline" -> (c01CurationPipeline _),
    "c02_curation_funnel"   -> (c02CurationFunnel _),
    "c03_training_mix"      -> (c03TrainingMix _),
    "c04_corpus_report"     -> (c04CorpusReport _),
    "c06_split_audit"       -> (c06SplitAudit _),
    "d09_crossmodal"      -> (d09CrossModal _),
    "t15_column_profile"  -> (t15ColumnProfile _),
    "d07_decontamination" -> (d07Decontamination _),
    "d16_bloom_decontamination" -> (d16BloomDecontamination _),
    "t10_pii_redaction"   -> (t10PiiRedaction _),
    "t11_repetition"      -> (t11RepetitionRatio _),
    "t12_token_packing"   -> (t12TokenPacking _),
    "c18_sequence_manifest" -> (c18SequenceManifest _),
    "c20_mixture_diversity" -> (c20MixtureDiversity _),
    "c21_token_yield"       -> (c21TokenYield _),
    "c22_pii_canary_audit"  -> (c22PiiCanaryAudit _),
    "c23_filter_agreement"  -> (c23FilterAgreement _),
    "c19_quality_sweep"     -> (c19QualitySweep _),
  )

  // def, not val: c14's golden-snapshot path resolves the sf tag at
  // dump time (GoldenGen.setSfTag), after object initialization
  def oracles: Map[String, String] = Map(
    // c24: the water-filling closed form mirrored — integer
    // cumulatives, exact cross-multiplied capped set, double level
    "c24_budget_allocation" -> c24Sql,
    // c12 ≡ c01 for ANY split boundary (the incremental path's whole
    // contract) → c01's own full-recompute oracle hash-checks it
    "c12_incremental_curation" -> c01Sql,
    // c14: BPE-token-denominated budget — the count is engine-side
    // (t29 table + t30 encode) → golden snapshot; admission maximality
    // asserted in the spec
    "c14_token_budget_bpe"  -> graft.GoldenGen.oracle("c14_token_budget_bpe"),
    // c15 ≡ c14 by construction (conservative sketch cut + exact pass,
    // denomination-blind) → c14's own golden, independently
    // hash-checking the pruning proof — the c11↔c10 precedent
    "c15_token_budget_bpe_pruned" -> graft.GoldenGen.oracle("c14_token_budget_bpe"),
    // c16: hashed-feature LM weights derive from xxhash64 + log2
    // (engine-side, deterministic; per-doc sum exact decimal) → golden
    // snapshot, the t21/t24 discipline; selection behavior pinned on a
    // planted corpus in CurationSpec
    "c16_dsir_selection"    -> graft.GoldenGen.oracle("c16_dsir_selection"),
    // c17: composes d16's Bloom + m09's blockhash (engine-side) with
    // s19's SQL-safe audit → golden as a whole; tier agreement with
    // the three standalone entries spec-asserted
    "c17_decontamination_report" -> graft.GoldenGen.oracle("c17_decontamination_report"),
    // t31: BPE-denominated packing — counts are engine-side like c14's
    // → golden snapshot; packing recomputed locally in the spec
    "t31_bpe_packing"       -> graft.GoldenGen.oracle("t31_bpe_packing"),
    "c13_rejection_reasons" -> c13Sql,
    // c09/c10: integer ranks / integer running sums over a 6dp-rounded
    // sort key → cross-engine total order, full SQL oracles
    "c09_source_cap"        -> c09Sql,
    "c10_token_budget"      -> c10Sql,
    // c11 ≡ c10 by construction (conservative sketch cut + exact pass)
    // → same oracle, independently hash-checking the pruning proof
    "c11_token_budget_pruned" -> c10Sql,
    "c08_temperature_mix"   -> c08Sql,
    "d13_source_overlap"    -> d13Sql,
    "c07_snapshot_diff"     -> c07Sql,
    "c05_leakage_safe_split" -> c05Sql,
    "c01_curation_pipeline" -> c01Sql,
    "c02_curation_funnel"   -> c02Sql,
    "c03_training_mix"      -> c03Sql,
    "c04_corpus_report"     -> c04Sql,
    "c06_split_audit"       -> c06Sql,
    "d09_crossmodal"      -> d09Sql,
    "t15_column_profile"  -> t15Sql,
    "d07_decontamination" -> d07Sql,
    // d16 ≡ d07 exactly (the Bloom prefilter is false-negative-free and
    // the exact verify join discards false positives) — same oracle,
    // the s02/s04 "same predicate, scale plan" precedent
    "d16_bloom_decontamination" -> d07Sql,
    "t10_pii_redaction"   -> t10Sql,
    "t11_repetition"      -> t11Sql,
    "t12_token_packing"   -> t12Sql,
    "c18_sequence_manifest" -> c18Sql,
    "c20_mixture_diversity" -> c20Sql,
    "c21_token_yield"       -> c21Sql,
    "c22_pii_canary_audit"  -> c22Sql,
    "c23_filter_agreement"  -> c23Sql,
    "c19_quality_sweep"     -> c19Sql,
  )
}
