package graft

/** Plan-shape regression net: the physical-plan properties the 100 TB
  * design depends on, asserted so a refactor can't silently lose them
  * (SURVEY §3.1: explain output as a testable artifact). */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q06: all three predicates reach the parquet scan") {
    val p = plan("q06_revenue_filter")
    assert(p.contains("PushedFilters"), p.take(400))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
           pushed.contains("l_quantity"), pushed)
  }

  test("q06: scan reads only the referenced columns") {
    val p = plan("q06_revenue_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      readSchema)
  }

  test("q03: top-k compiles to TakeOrderedAndProject, dims broadcast") {
    val p = plan("q03_top_revenue")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"))
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(400))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected two-phase agg")
  }

  test("d04: no cartesian product anywhere in the LSH pipeline") {
    val p = plan("d04_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("d10: collapse path is all equi-joins — no cartesian/NLJ, no global window") {
    val p = plan("d10_collapsed_jaccard")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")), "global window")
  }

  test("d11: delta join is equi-keyed on prefix tokens — no cartesian/NLJ") {
    val p = plan("d11_delta_neardup")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("c01: five-stage curation pipeline is equi-joins end to end — no cartesian/NLJ") {
    val p = plan("c01_curation_pipeline")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("s06: delta embedding join is equi-keyed on block id — no cartesian/NLJ") {
    val p = plan("s06_delta_neardup")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("s08: pair join equi-keyed on cluster id; NLJ only against k-row centroid broadcasts") {
    val p = plan("s08_ivf_neardup")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the corpus × centroids probe assignment is a deliberate broadcast
    // of k rows (once per self-join side); the candidate join itself
    // must be a shuffled equi-join, never a nested loop over the corpus
    val nlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 2, s"$nlj nested-loop joins: ${p.take(800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "candidate join is not an equi-join")
  }

  test("s11: survivor decision — candidate join equi-keyed, NLJ only vs k-row broadcasts") {
    val p = plan("s11_semantic_survivors")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // two deliberate k-row centroid broadcasts (the s08 pair front end)
    // plus the typicality ranking's own — everything else is equi-joined
    val nlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 3, s"$nlj nested-loop joins: ${p.take(800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "no equi-join in the survivor plan")
  }

  test("c07: snapshot diff is one equi-join carrying hashes only — text never shuffles") {
    val p = plan("c07_snapshot_diff")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("FullOuter"), "diff join is not a full outer equi-join")
    // the manifests project (doc_id, sha2) before the exchange: no
    // Exchange input may carry the text column
    val badExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(!badExchange, "text column crosses the diff shuffle")
  }

  test("t20: CMS sketch build is partial+final — shuffle fan-in is cells, not vocabulary") {
    val p = plan("t20_heavy_hitters")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("partial_count") || p.contains("Partial"), "no map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "top-20 is not two-phase")
  }

  test("d16: bloom prefilter runs as a codegen'd scan filter BEFORE any explode or join") {
    val p = plan("d16_bloom_decontamination")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("bloom_hits_at_least"), "native prefilter missing from the plan")
    // the prefilter must sit under a Filter, not after the Generate:
    // flagged-doc selection happens before row multiplication
    val lines = p.linesIterator.toVector
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("bloom_hits_at_least"))
    assert(filterIdx >= 0, "bloom filter not fused into a Filter node")
    assert(p.contains("BroadcastHashJoin"), "exact verify join should broadcast the bench side")
  }

  test("t16: merge-pair count is partial+final with a two-phase top-k") {
    val p = plan("t16_merge_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.contains("partial_count") || p.contains("Partial"), "no map-side combine")
  }

  test("t25: corpus explode runs once — df rides the postings window, not a second tf consumer") {
    // tf.groupBy(token) and the scoring join canonicalize differently
    // (pushed isnotnull), so a dfreq built FROM tf forced the corpus
    // explode→aggregate to execute twice. df now comes from a windowed
    // count over the joined postings; the only explodes left are the
    // corpus tf build and the (tiny) query-term side.
    val p = plan("t25_bm25")
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates === 2,
      s"expected 2 explodes (corpus tf + query terms), got $generates\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("d18: substring removal is equi-only — owner agg partial, no cartesian/NLJ, no global window") {
    val p = plan("d18_dedup_substrings")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the owner aggregate on the window key must combine map-side —
    // boilerplate skew is bounded per task, never a hot reduce key
    assert(p.contains("partial_min") || p.contains("Partial"),
      "owner aggregate is not map-side combined")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "island window must stay partitioned by doc_id")
  }

  test("c05: leakage-safe split is equi-joins only — no cartesian/NLJ") {
    val p = plan("c05_leakage_safe_split")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("c09: per-source cap prunes map-side — partial WindowGroupLimit below the source exchange") {
    val p = plan("c09_source_cap")
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the 100 TB claim: each upstream task ships ≤ cap rows per source,
    // never a hot domain's full posting — same shape as the s07 pin
    val lines = p.linesIterator.toVector
    val partial = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val fin = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Final"))
    val exch = lines.indexWhere(l =>
      l.contains("Exchange") && l.contains("source"))
    assert(partial >= 0 && fin >= 0 && exch >= 0,
      s"expected partial+final WindowGroupLimit and a source exchange:\n${p.take(1500)}")
    assert(fin < exch && exch < partial,
      s"partial pruning must sit below the exchange:\n${lines.slice(fin, partial + 1).mkString("\n")}")
  }

  test("c18: manifest window stays per-lang, boundary explode is generate — no join") {
    val p = plan("c18_sequence_manifest")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "running offset must stay partitioned by lang")
    assert(p.contains("Generate"), "span explode missing")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "c18 must not join at all")
  }

  test("s23/s26: semdedup — candidate join equi-keyed on cluster id, NLJ only vs seed broadcast") {
    Seq("s23_semdedup", "s26_semdedup_collapsed").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(800)}")
      // one deliberate k-row centroid broadcast feeds the argmax
      // assignment; the within-cluster pair join (and s26's collapse
      // groupBy + membership join on the vector value) must be equi
      val nlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(nlj <= 2, s"$q: $nlj nested-loop joins: ${p.take(800)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), s"$q: candidate join is not an equi-join")
    }
  }

  test("s24: range search keeps s01's shape — query side broadcast, corpus streams") {
    val p = plan("s24_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
  }

  test("t34: rule aggregates all key on doc_id, one corpus scan — no corpus-global term") {
    val p = plan("t34_gopher_rules")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    val hashed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(hashed.nonEmpty, "expected keyed exchanges")
    assert(hashed.forall(_.contains("doc_id")),
      s"non-doc-keyed shuffle:\n${hashed.filterNot(_.contains("doc_id")).mkString("\n")}")
    // r14: the whole datasheet derives from the (doc_id, word)
    // histogram — per-doc expressions and the top-share reduce share
    // ONE corpus scan, no join
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1,
      "t34 must scan the corpus exactly once")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "t34 needs no join")
  }

  test("t35: novelty — first-owner agg partial+final on the shingle key, no window") {
    val p = plan("t35_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("Window"), "no window belongs in t35")
    // min-owner reduction must be partial+final (map-side combined), so
    // a flooded shingle arrives at the reducer as one partial row per task
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_min")),
      "first-owner min is not map-side combined")
  }

  test("c10: running sum windows on source, never a single partition; no cartesian") {
    val p = plan("c10_token_budget")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("Window"), p.take(600))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "prefix sum must stay partitioned by source")
  }

  test("c11: bin cuts broadcast back, admission window stays per-source") {
    val p = plan("c11_token_budget_pruned")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin"), "cut frame must broadcast")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "both windows must stay partitioned by source")
    // the r11 fix made the prune load-bearing; pin the shape that makes
    // it CHEAP too — pass 1's (source, bin) mass aggregate must combine
    // map-side, so the sketch never shuffles row-level token counts
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "bin-mass aggregate is not map-side combined")
  }

  test("c15: BPE budget prune keeps c11's shape — cuts broadcast, windows per-source, bin agg partial") {
    val p = plan("c15_token_budget_bpe_pruned")
    assert(!p.contains("CartesianProduct"), p.take(600))
    assert(p.contains("BroadcastHashJoin"), "cut frame must broadcast")
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "both windows must stay partitioned by source")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "bin-mass aggregate is not map-side combined")
  }

  test("t30: encode is scan→project — no exchange, no join, no generate") {
    // the 100 TB claim for the tokenizer's corpus-touching half: a pure
    // map stage (the merge table rides inside the expression), so the
    // plan may contain NO shuffle, join, or row-multiplying node
    val p = plan("t30_bpe_encode")
    assert(!p.contains("Exchange"), s"encode plan shuffles:\n${p.take(800)}")
    assert(!p.contains("Join") && !p.contains("Generate"), p.take(800))
    assert(p.contains("bpe_encode"), "codegen'd encode expression missing")
  }

  test("s19: bench decontamination is scan→project — no exchange, no join") {
    // the 100 TB claim: the bench matrix rides inside the expression
    // (the d16 Bloom premise), so the corpus-touching plan is one fused
    // map stage — NO shuffle, join, or row-multiplying node anywhere
    val p = plan("s19_bench_decontamination")
    assert(!p.contains("Exchange"), s"decontamination plan shuffles:\n${p.take(800)}")
    assert(!p.contains("Join") && !p.contains("Generate"), p.take(800))
    assert(p.contains("max_cosine_against"), "codegen'd argmax kernel missing")
  }

  test("d20: intra-doc repetition — every exchange keys on doc_id (no cross-doc term)") {
    // the strictly-per-document claim, made testable: the whole
    // computation must partition by doc_id — any hash exchange whose
    // key set omits doc_id would be a cross-document shuffle
    val p = plan("d20_intradoc_repeats")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    val hashed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(hashed.nonEmpty, "expected keyed exchanges")
    assert(hashed.forall(_.contains("doc_id")),
      s"cross-doc shuffle found:\n${hashed.filterNot(_.contains("doc_id")).mkString("\n")}")
  }

  test("d21: LSH index probe — candidate join equi-keyed on band keys, no cartesian/NLJ") {
    // the indexed-probe claim: the delta meets the standing corpus
    // only through band-key equi-joins (shuffle moves band keys and
    // ids, never text) and the candidate-only verify joins on doc ids
    val p = plan("d21_lsh_index_probe")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("band_hash"), "band-keyed candidate join missing")
  }

  test("d21: persisted probe — standing lanes never shuffle or window, delta broadcasts") {
    // the delta-cost contract, pinned on the PRODUCTION path (persisted
    // artifact → probeLshIndex): the standing banded/shingle/counts
    // lanes may be SCANNED but must never sit under a shuffle Exchange
    // or a Window — the only joins touching them are broadcast-hash
    // with the (delta-proportional) side broadcast
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = Tables.documents(spark, sf001)
      .select($"doc_id", $"text")
    val dir = java.nio.file.Files.createTempDirectory("d21-plan-idx").toString
    try {
      graft.operators.Dedup.writeLshIndex(docs.filter($"doc_id" % 10 =!= 0), dir)
      val probe = graft.operators.Dedup.probeLshIndex(spark, dir,
        docs.filter($"doc_id" % 10 === 0), 0.8, 1000)
      val plan = probe.queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        "window in the probe plan")
      def isStanding(f: FileSourceScanExec): Boolean =
        f.relation.location.rootPaths.exists { rp =>
          val s = rp.toString
          s.contains(dir) && (s.contains("banded") || s.contains("shingles"))
        }
      // a standing scan is "unguarded" at a node if no REDUCING
      // broadcast join (inner/semi against the broadcast delta or
      // candidate set — output ∝ matches, i.e. delta-proportional)
      // sits between the scan and that node; anti-joins don't reduce
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
      def unguarded(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => isStanding(f)
        case b: BroadcastHashJoinExec
            if b.joinType == Inner || b.joinType == LeftSemi => false
        case other => other.children.exists(unguarded)
      }
      val offending = plan.collect {
        case e: ShuffleExchangeLike if e.children.exists(unguarded) => e
      }
      assert(offending.isEmpty,
        s"standing index lane crossed a shuffle:\n${offending.map(_.nodeName).mkString("\n")}")
      assert(plan.toString.contains("BroadcastHashJoin"),
        "delta side must broadcast into the standing lanes")
    } finally graft.BenchUtil.rmTree(dir)
  }

  test("m10: payload index probe — band-keyed equi-join, payload bytes never shuffle") {
    // the media-economics claim: the delta meets the standing corpus
    // only through (chunk_id, chunk_val) equi-joins — every exchange
    // carries ids and 64-bit fingerprints, never payload bytes
    val p = plan("m10_payload_index_probe")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("chunk_val"), "band-keyed candidate join missing")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected keyed exchanges")
    assert(!exchanges.exists(_.contains("payload")),
      s"payload bytes crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("s21: probed decontamination — candidate join equi-keyed on cluster id, NLJ only vs centroids") {
    // the big-bench claim: corpus never meets the suite in a nested
    // loop — candidates come from an equi-join on probed cluster ids
    // (the s08 discipline), so per-corpus-vector work is the probed
    // buckets' bench mass, not the suite
    val p = plan("s21_probed_decontamination")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // two deliberate k-row centroid broadcasts (bench indexing +
    // corpus probing); the corpus-bench join itself must be equi-keyed
    val nlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 2, s"$nlj nested-loop joins: ${p.take(800)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "candidate join is not an equi-join")
  }

  test("q72: series similarity — day-keyed equi-joins only, dot aggregate map-side combined") {
    // the sparse-inner-product claim: the dense per-user vector never
    // materializes and users never meet in a nested loop — the dot is
    // an integer aggregate over a day-keyed equi-join, combined
    // map-side before any exchange
    val p = plan("q72_series_topk")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected two-phase agg")
  }

  test("c16: LM aggregates partial+final, lambda table broadcasts, no cartesian") {
    // the O(buckets)-state claim: both hashed LMs must combine map-side
    // (shuffle fan-in ≤ B rows) and the λ table must reach the scoring
    // join as a broadcast, never a shuffled side
    val p = plan("c16_dsir_selection")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "lambda join must broadcast")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "bucket-count aggregates are not map-side combined")
    assert(p.contains("TakeOrderedAndProject"),
      "top-K must be a TakeOrdered, not a global sort")
  }

  test("m09: bench side broadcasts; the only shuffled joins key on doc_id") {
    // asymmetric corpus × bench banding: the candidate join must build
    // on the broadcast bench bands (never a corpus self-join or
    // cartesian); the audit ASSEMBLY joins (flagged ⋈ sha, corpus ⋈
    // audit) are allowed to shuffle — they key on doc_id, uniform by
    // construction — but nothing may shuffle on a band/fingerprint key
    val p = plan("m09_bench_decontamination")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "bench side must broadcast")
    val smjKeyed = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smjKeyed.forall(_.contains("doc_id")),
      s"shuffled join off the uniform doc_id key:\n${smjKeyed.mkString("\n")}")
  }

  test("t31: BPE packing windows per lang, aggregate map-side combined") {
    val p = plan("t31_bpe_packing")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "running sum must stay partitioned by lang")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "pack aggregate is not map-side combined")
  }

  test("t27: fusion stage windows per q_id, no cartesian anywhere") {
    val p = plan("t27_rrf_fusion")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "fused ranking must stay partitioned by q_id")
  }

  test("s07: knn graph — no NLJ, partial top-k pruned before the shuffle") {
    val p = plan("s07_knn_graph")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the map-side-combine claim: the rank ≤ k filter must compile to
    // the two-phase WindowGroupLimit, with the Partial pass BELOW the
    // q_id exchange (only ≤ k rows per query per map partition shuffle)
    val lines = p.linesIterator.toVector
    val partial = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val fin = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Final"))
    val exch = lines.indexWhere(l =>
      l.contains("Exchange") && l.contains("q_id"))
    assert(partial >= 0 && fin >= 0 && exch >= 0,
      s"expected partial+final WindowGroupLimit and a q_id exchange:\n${p.take(1500)}")
    // executedPlan prints top-down: Final above Exchange above Partial
    assert(fin < exch && exch < partial,
      s"partial pruning must sit below the exchange:\n${lines.slice(fin, partial + 1).mkString("\n")}")
  }

  test("s04: blocked near-dup has no nested-loop join, equi-join on block pair") {
    val p = plan("s04_blocked_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the candidate join is an equi join on the block-pair id
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p.take(800))
  }

  test("s04 matches s02 exactly (same predicate, scalable plan)") {
    val a = SparkEntry.queries("s02_embedding_neardup")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.queries("s04_blocked_neardup")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("d07: benchmark shingle side is broadcast, corpus streams") {
    val p = plan("d07_decontamination")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(600))
  }

  test("kmeans quantizer training: no partition-less Window, seeds via TakeOrderedAndProject") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val df = operators.Similarity.kmeansCentroids(emb, 5, 2)
    val global = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(global.isEmpty,
      s"k-means lineage must not move the corpus to one partition: $global")
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(df.count() === 5)
  }

  test("s01: brute-force query side is broadcast, corpus streams") {
    val p = plan("s01_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(600))
  }

  test("s17: persisted-index serve — probed-list partition filter in the scan, probes broadcast") {
    // pinned on the production API (writeIvfIndex → ivfTopKFromIndex):
    // the registered entry localCheckpoints its result (so the FIFO
    // temp-dir eviction can never invalidate a lazy caller), which
    // truncates the plan — the serve shape must be read pre-checkpoint
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("s17-plan-idx").toString
    val p = try {
      Similarity.writeIvfIndex(emb, centroids, dir)
      val q = emb.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"v".as("qv"),
          Similarity.norm($"v").as("qn"))
      Similarity.ivfTopKFromIndex(spark, dir, centroids, q, nprobe = 2, k = 3)
        .queryExecution.executedPlan.toString
    } finally graft.BenchUtil.rmTree(dir)
    assert(!p.contains("CartesianProduct"), p.take(600))
    // the scale mechanism: the probed cluster ids must reach the index
    // scan as a PARTITION filter (directory pruning), not a row filter
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cluster_id") && !l.contains("[]")),
      s"probe filter not pushed to partition pruning: ${pf.getOrElse("no line")}")
    assert(p.contains("BroadcastHashJoin"), "probe frame must broadcast")
  }

  test("s14: quantized retrieval keeps s01's shape — query side broadcast") {
    val p = plan("s14_int8_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(600))
  }

  test("t37: coverage windows stay per-source; s25: filter attribute IS the join key") {
    val t = plan("t37_coverage_curve")
    assert(!t.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "coverage running sum must stay partitioned by source")
    assert(!t.contains("CartesianProduct"), t.take(400))
    val p = plan("s25_filtered_topk")
    // the filtered-ANN claim: pushing the predicate turns s01's
    // nested-loop into a label-keyed HASH join — no NLJ anywhere
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(600))
  }

  test("c19: threshold sweep is scan -> explode -> aggregate, no join or window") {
    val p = plan("c19_quality_sweep")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(600))
    assert(p.contains("Generate"), "threshold explode missing")
    assert(p.contains("HashAggregate"), p.take(400))
  }

  test("s27: persisted IVFADC serve — probed-list partition pruning, models broadcast") {
    // the compressed-layout twin of the s17 pin: probe ids must reach
    // the CODES scan as a partition filter, and both model lanes join
    // as broadcasts — the corpus-sized side never shuffles for a model
    import spark.implicits._
    import org.apache.spark.sql.functions.posexplode
    import graft.operators.Similarity
    val (kc, dsub, kpq, iters) = (5, 4, 16, 2)
    val vq64 = Similarity.pqSubvectors(
      Tables.embeddings(spark, sf001)
        .select($"vec_id", $"embedding".cast("array<double>").as("v")), 64)
    val coarse = Similarity.trainedPqCodebooks(spark, sf001, 64, kc, iters)
    val rsv = Similarity.coarseResidualsForSpec(vq64, coarse)
      .select($"vec_id", posexplode(Similarity.subSplit($"r", dsub)))
      .toDF("vec_id", "sub", "sv")
    val books = Similarity.pqCodebooks(rsv, kpq, iters)
    val dir = java.nio.file.Files.createTempDirectory("s27-plan-idx").toString
    val p = try {
      Similarity.writeIvfAdcIndex(vq64, coarse, books, dsub, dir)
      Similarity.ivfAdcTopKFromIndex(spark, dir,
          vq64.filter($"vec_id" < 20), dsub, nprobe = 2, k = 3)
        .queryExecution.executedPlan.toString
    } finally graft.BenchUtil.rmTree(dir)
    assert(!p.contains("CartesianProduct"), p.take(600))
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("cluster_id") && !l.contains("[]")),
      s"probe filter not pushed to partition pruning: ${pf.getOrElse("no line")}")
    assert(p.contains("BroadcastHashJoin"), "model lanes must broadcast")
  }

  test("m06/m12: payload near-dup — equi-joins only, payload bytes never cross an exchange") {
    // the collapsedChunkSetPairs contract: candidates come from chunk-
    // value equi-joins over DISTINCT payloads' chunk sets, the df-cap
    // is an aggregate+join on the same key (no window, no broadcast of
    // an unbounded key set), and every exchange carries only the sha
    // group key / ids / chunk keys — never payload or hex-payload bytes
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.BinaryType
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("m06_chunk_neardup", "m12_cdc_neardup").foreach { q =>
        val phys = SparkEntry.queries(q)(spark, sf001)
          .queryExecution.executedPlan
        val p = phys.toString
        assert(!p.contains("CartesianProduct") &&
               !p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(800)}")
        assert(!p.contains("Window"), s"$q: window in the plan")
        val offending = phys.collect {
          case e: ShuffleExchangeLike if e.child.output.exists(a =>
            a.dataType == BinaryType || a.name == "payload" || a.name == "hx") => e
        }
        assert(offending.isEmpty,
          s"$q: payload bytes crossed an exchange: ${offending.map(_.child.output.mkString(","))}")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("m15: byte profile is one codegen'd scan->project pass — no shuffle, no explode") {
    val p = plan("m15_byte_profile")
    assert(!p.contains("Join") && !p.contains("Exchange") &&
           !p.contains("Generate") && !p.contains("Window"), p.take(800))
    assert(p.contains("byte_payload_profile"), "native expression missing")
    // `*(1)` = the one whole-stage-codegen stage (executedPlan.toString
    // marks codegen'd spans with `*`; the literal node name only shows
    // in formatted mode)
    assert(p.linesIterator.exists(l =>
      l.contains("*(1) Project") && l.contains("byte_payload_profile")),
      "profile must run inside the codegen'd project")
  }

  test("d22: one pair join drives the whole tau grid; tau axis is a broadcast dimension") {
    val p = plan("d22_survival_curve")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the tau fan-out must ride a BroadcastNestedLoopJoin over the
    // 7-row tau frame (an inequality join on a broadcast dimension is
    // the intended shape), never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")), "global window")
  }

  test("c21: token yield rides the marks frame — equi-joins only, one rollup") {
    val p = plan("c21_token_yield")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }


  test("c22: pii audit is one codegen'd scan + one rollup exchange — no join, no window") {
    val p = plan("c22_pii_canary_audit")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(800))
    // exactly one shuffle: the |sources|-key aggregate
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      "regex/scrub work must stay per-row ahead of a single rollup exchange")
  }

  test("t39: surprisal model join is equi-keyed; N rides in-plan as a broadcast 1-row agg") {
    val p = plan("t39_unigram_surprisal")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")), "global window")
    // the 1-row N total must broadcast (the t36 discipline), never shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "corpus total must ride a broadcast")
  }

  test("s30: refine joins are broadcast-asymmetric — shortlist and queries broadcast, corpus never shuffles for the refine") {
    val p = plan("s30_refined_topk")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // both refine joins (shortlist→raw-vector fetch, query side) are
    // explicit broadcast()s in the operator — the corpus-sized scan
    // side must never appear under a shuffled join for the re-rank
    assert(p.contains("BroadcastHashJoin"), "refine must broadcast the shortlist")
  }

  test("d23/d24: cluster reports — no cartesian, corpus totals broadcast, windows never global") {
    val p23 = plan("d23_cluster_mass")
    assert(!p23.contains("CartesianProduct"), p23.take(800))
    // the 1-row corpus-totals frame must ride a broadcast (t36 discipline)
    assert(p23.contains("BroadcastNestedLoopJoin") || p23.contains("BroadcastHashJoin"),
      "corpus totals must broadcast")
    val p24 = plan("d24_keep_best")
    assert(!p24.contains("CartesianProduct"), p24.take(800))
    assert(!p24.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition")),
      "d24 windows must stay rep-keyed, never global")
  }

  test("s29: labeled-index serve — label partition filter reaches the scan, queries broadcast") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf001)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
    val centroids = Similarity.trainedCentroids(spark, sf001, k = 5, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("s29-plan-idx").toString
    val p = try {
      Similarity.writeLabeledIvfIndex(emb, centroids, dir)
      val q = emb.filter($"vec_id" < 3)
        .select($"vec_id".as("q_id"), $"label", $"v".as("qv"),
          Similarity.norm($"v").as("qn"))
      Similarity.filteredTopKFromIndex(spark, dir, q, k = 3)
        .queryExecution.executedPlan.toString
    } finally graft.BenchUtil.rmTree(dir)
    assert(!p.contains("CartesianProduct"), p.take(600))
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("label")),
      s"label must prune partitions at planning time: ${pf.getOrElse(p.take(400))}")
    assert(p.contains("BroadcastHashJoin"), "queries must broadcast")
  }

}
