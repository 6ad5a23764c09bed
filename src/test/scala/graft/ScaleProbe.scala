package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

/** Measured scale-up evidence for SCALE.md: builds a 10× corpus from
  * sf0.1 and times the dedup/similarity paths at both sizes, so the
  * "this scales linearly" claims carry numbers instead of adjectives.
  *
  *   sbt "Test/runMain graft.ScaleProbe"        # docs + vectors
  *   sbt "Test/runMain graft.ScaleProbe quad"   # also the quadratic s04 at 10×
  *
  * Corpus construction (deterministic):
  *  - documents ×10: copy c suffixes every token with "~c", so each
  *    copy preserves its internal near-dup structure exactly while
  *    sharing no shingle across copies — pair count scales ×10, input
  *    rows ×10: the LINEAR-scaling probe.
  *  - embeddings ×10: byte-exact copies under shifted vec_ids — the
  *    recrawl dup-storm every large corpus has; each vector gains 9
  *    cosine-1 twins: the HOT-BUCKET probe for the ANN path (and why
  *    k must scale with n: the scaladoc's k ∝ corpus/target-bucket).
  */
object ScaleProbe {
  private def timeSec[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  /** min of two runs, matching Bench's steady-state convention (and
    * its r17 scratch hygiene: tracked checkpoints from the previous
    * measurement are released before this one is timed) */
  private def t2(f: => Long): (Double, Long) = {
    var rows = 0L
    Scratch.drain()
    val a = timeSec { rows = f }
    val b = timeSec { rows = f }
    (math.min(a, b), rows)
  }

  def main(args: Array[String]): Unit = {
    val quad = args.contains("quad")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val copies = 10

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    (0 until copies).map { c =>
      docs.select(($"doc_id" + lit(c * 10000000L)).as("doc_id"),
        regexp_replace($"text", "(\\S+)", "$1~" + c).as("text"),
        $"lang", $"source", $"n_chars")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$base/x10/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$base/x1/documents.parquet")

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    (0 until copies).map { c =>
      emb.select(($"vec_id" + lit(c * 10000000L)).as("vec_id"),
        $"embedding", $"label")
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$base/x10/embeddings.parquet")
    emb.write.mode("overwrite").parquet(s"$base/x1/embeddings.parquet")

    val nDocs1 = spark.read.parquet(s"$base/x1/documents.parquet").count()
    val nDocs10 = spark.read.parquet(s"$base/x10/documents.parquet").count()
    println(f"CORPUS docs x1=$nDocs1 x10=$nDocs10 at $base")

    def row(name: String, d1: (Double, Long), d10: (Double, Long)): Unit = {
      val ratio = d10._1 / d1._1
      println(f"SCALE $name%-22s x1=${d1._1}%7.2fs (${d1._2}%9d rows)  " +
        f"x10=${d10._1}%7.2fs (${d10._2}%9d rows)  t-ratio=${ratio}%5.1fx")
    }

    def docsAt(tag: String) = s"$base/$tag"
    row("d01_exact_dedup",
      t2(Dedup.d01ExactDedup(spark, docsAt("x1")).count()),
      t2(Dedup.d01ExactDedup(spark, docsAt("x10")).count()))
    row("d04_minhash_lsh",
      t2(Dedup.d04MinhashLsh(spark, docsAt("x1")).count()),
      t2(Dedup.d04MinhashLsh(spark, docsAt("x10")).count()))
    def d03At(tag: String) = Dedup.ngramJaccardPairs(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 0.8).count()
    row("d03_prefix_join", t2(d03At("x1")), t2(d03At("x10")))
    def d10At(tag: String) = Dedup.ngramJaccardPairsViaCollapse(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 0.8).count()
    row("d10_collapse_join", t2(d10At("x1")), t2(d10At("x10")))
    def d14At(tag: String) = Dedup.containmentPairs(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 0.9).count()
    row("d14_containment", t2(d14At("x1")), t2(d14At("x10")))
    // window-hash substring dedup: explode + aggregate + island merge,
    // no pair term — the t-ratio should track corpus token mass (~10×)
    def d15At(tag: String) = Dedup.substringSpans(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 8).count()
    // d18: span REMOVAL — d15's linear shape plus the position
    // anti-join and per-doc reassembly; cost ∝ token mass + removed
    // mass, still no pair term (the ~c suffixing means removals stay
    // within-copy, so removed mass scales ×10 with the corpus)
    // toRdd.count, not count(): count() lets Catalyst prune the
    // reassembly/sha columns — the 10× mass this row exists to measure
    def d18At(tag: String) = Dedup.dedupSubstrings(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 8).queryExecution.toRdd.count()
    row("d18_dedup_substrings", t2(d18At("x1")), t2(d18At("x10")))
    // d20: strictly per-document (no cross-doc term at all) — the
    // t-ratio should track token mass like d18's, with no owner-agg
    // cross-doc key; full materialization for the same reason as d18
    def d20At(tag: String) = Dedup.intraDocRepeatRemoval(
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text"), 2).queryExecution.toRdd.count()
    row("d20_intradoc_repeats", t2(d20At("x1")), t2(d20At("x10")))
    // d19 delta economics on the x10 corpus: full d18 recompute vs the
    // STEADY STATE — a 2% delta cleaned against the standing window set
    // loaded from its persisted parquet artifact (the registered d19
    // entry rebuilds the set in-plan to stay oracle-self-contained, so
    // its cost ≈ d18; THIS is the per-batch operating cost)
    locally {
      val vx = spark.read.parquet(s"$base/x10/documents.parquet")
        .select($"doc_id", $"text")
      val baseMaxD = spark.read.parquet(s"$base/x1/documents.parquet")
        .agg(max($"doc_id")).head().getLong(0)
      val cutD = 9L * 10000000L + (baseMaxD * 4) / 5
      val setDir = s"$base/winset"
      Dedup.substringWindowSet(vx.filter($"doc_id" <= cutD), 8)
        .write.mode("overwrite").parquet(setDir)
      val standingSet = spark.read.parquet(setDir)
      val (f, _) = t2(Dedup.dedupSubstrings(vx, 8)
        .queryExecution.toRdd.count())
      val (dl, _) = t2(Dedup.deltaSubstringRemovalWithSet(
          standingSet, vx.filter($"doc_id" > cutD), 8)
        .queryExecution.toRdd.count())
      println(f"SCALE d19_delta_x10         full-d18=${f}%6.2fs  " +
        f"delta-d19(2%%, persisted set)=${dl}%6.2fs  cost-ratio=${dl / f}%5.2fx")
    }
    // d21 steady state: a 2% delta probed against the PERSISTED LSH
    // index vs the full d04 recompute on the x10 corpus — the per-batch
    // operating cost of indexed near-dup admission (the registered d21
    // entry rebuilds the standing frames in-plan for the oracle; this
    // is the production path: signatures computed once at index-build,
    // each batch pays only its own signatures + the band-keyed join)
    locally {
      val vx = spark.read.parquet(s"$base/x10/documents.parquet")
        .select($"doc_id", $"text")
      val baseMaxD = spark.read.parquet(s"$base/x1/documents.parquet")
        .agg(max($"doc_id")).head().getLong(0)
      val cutD = 9L * 10000000L + (baseMaxD * 4) / 5
      val idxDir = s"$base/lshidx"
      Dedup.writeLshIndex(vx.filter($"doc_id" <= cutD), idxDir)
      val (f, _) = t2(Dedup.minhashLshPairs(vx).count())
      val (dl, _) = t2(Dedup.probeLshIndex(spark, idxDir,
        vx.filter($"doc_id" > cutD), 0.8).count())
      println(f"SCALE d21_delta_x10         full-d04=${f}%6.2fs  " +
        f"probe-d21(2%%, persisted index)=${dl}%6.2fs  cost-ratio=${dl / f}%5.2fx")
      // the flat-probe claim: the SAME delta probed against a 1× vs a
      // 10× standing index. Copies share no shingles with copy 0, so
      // the answers are identical; the x10 probe pays only the larger
      // standing SCAN (columnar ids+hashes, no shuffle) — wall time
      // should stay ~flat, which is the whole point of the artifact
      val x1 = spark.read.parquet(s"$base/x1/documents.parquet")
        .select($"doc_id", $"text")
      val baseMax1 = x1.agg(max($"doc_id")).head().getLong(0)
      val cut1 = (baseMax1 * 4) / 5
      val delta1 = x1.filter($"doc_id" > cut1)
      val standing1 = x1.filter($"doc_id" <= cut1)
      val idx1 = s"$base/lshidx_x1"
      Dedup.writeLshIndex(standing1, idx1)
      // x10 standing = the x1 standing ∪ 9 token-suffixed copies of it
      // (suffix on EVERY token ⇒ zero shingle overlap with the
      // unsuffixed delta; ids shifted ≥ 10^7 ⇒ disjoint); cannot reuse
      // $base/x10, whose copy 0 is also suffixed — the delta would
      // share nothing with it and the answers wouldn't be comparable
      val idx10 = s"$base/lshidx_x10s"
      val copies9 = (1 until 10).map { cc =>
        standing1.select(($"doc_id" + lit(cc * 10000000L)).as("doc_id"),
          regexp_replace($"text", "(\\S+)", "$1~" + cc).as("text"))
      }.reduce(_ unionByName _)
      Dedup.writeLshIndex(standing1.unionByName(copies9), idx10)
      val (p1, n1) = t2(Dedup.probeLshIndex(spark, idx1, delta1, 0.8).count())
      val (p10, n10) = t2(Dedup.probeLshIndex(spark, idx10, delta1, 0.8).count())
      require(n1 == n10,
        s"x1 vs x10 standing changed the probe answer: $n1 vs $n10")
      println(f"SCALE d21_probe_flat        probe-vs-1x=${p1}%6.2fs  " +
        f"probe-vs-10x=${p10}%6.2fs  t-ratio=${p10 / p1}%5.2fx (same delta, same answer)")

      // compaction economics (round-14): the same standing corpus
      // admitted as ONE write vs TWENTY appends vs twenty appends +
      // compactLshIndex. Answers are identical at every point (the
      // IndexCompactionSpec contract); this row prices the small-file
      // debt appends accumulate and shows compaction returning the
      // probe to ~single-write cost with a bounded file count.
      def lshFiles(dir: String): Int = {
        val b = scala.collection.mutable.ArrayBuffer[String]()
        val st = java.nio.file.Files.walk(
          java.nio.file.Paths.get(operators.IndexStore.currentPath(dir)))
        try st.forEach(p => if (p.toString.endsWith(".parquet")) b += p.toString)
        finally st.close()
        b.size
      }
      val idxApp = s"$base/lshidx_app20"
      val sMax = standing1.agg(max($"doc_id")).head().getLong(0)
      val aBounds = (0 to 20).map(i => 1 + sMax * i / 20)
      Dedup.writeLshIndex(standing1.filter($"doc_id" < aBounds(1)), idxApp)
      (1 until 20).foreach { i =>
        Dedup.appendToLshIndex(standing1.filter(
          $"doc_id" >= aBounds(i) && $"doc_id" < aBounds(i + 1)), idxApp)
      }
      val fApp = lshFiles(idxApp)
      val (pApp, nApp) = t2(Dedup.probeLshIndex(spark, idxApp, delta1, 0.8).count())
      Dedup.compactLshIndex(spark, idxApp)
      val fCom = lshFiles(idxApp)
      val (pCom, nCom) = t2(Dedup.probeLshIndex(spark, idxApp, delta1, 0.8).count())
      require(nApp == n1 && nCom == n1,
        s"append/compact changed the probe answer: $n1 vs $nApp vs $nCom")
      println(f"SCALE d21_compaction        probe-1-write=${p1}%6.2fs (${lshFiles(idx1)}%d files)  " +
        f"probe-20-appends=${pApp}%6.2fs ($fApp%d files)  " +
        f"probe-compacted=${pCom}%6.2fs ($fCom%d files)")

      // deletion economics (round-16): the same standing corpus with a
      // 10% tombstone load — probe cost of the masked index vs an index
      // rebuilt without the removed docs (the answer-equality contract)
      // vs the tombstoned index after compaction reclaims the lane.
      // The masks are broadcast anti-joins + a delta-sized dead-count
      // correction, so the masked probe should price within noise of
      // the rebuilt one — deletion never forces a rebuild.
      val removed10 = standing1.filter($"doc_id" % 10 === 3).select($"doc_id")
      val idxTomb = s"$base/lshidx_tomb"
      val idxLive = s"$base/lshidx_live"
      Dedup.writeLshIndex(standing1, idxTomb)
      Dedup.deleteFromLshIndex(removed10, idxTomb)
      Dedup.writeLshIndex(
        standing1.join(removed10, Seq("doc_id"), "left_anti"), idxLive)
      val (pT, nT) = t2(Dedup.probeLshIndex(spark, idxTomb, delta1, 0.8).count())
      val (pL, nL) = t2(Dedup.probeLshIndex(spark, idxLive, delta1, 0.8).count())
      require(nT == nL,
        s"10% tombstones vs rebuild-without-removed diverged: $nT vs $nL")
      Dedup.compactLshIndex(spark, idxTomb)
      val (pR, nR) = t2(Dedup.probeLshIndex(spark, idxTomb, delta1, 0.8).count())
      require(nR == nL, s"post-reclaim probe diverged: $nR vs $nL")
      println(f"SCALE d21_tombstones        probe-10%%-tombstoned=${pT}%6.2fs  " +
        f"probe-rebuilt-without=${pL}%6.2fs  probe-after-reclaim=${pR}%6.2fs  " +
        f"mask-overhead=${pT / pL}%5.2fx (same answer at every point)")

      // update economics (round-17): the changed-doc verb priced
      // against the rebuild it replaces — 2% of the standing corpus
      // revised; update = one lane fold + delta-sized signature work,
      // rebuild = re-shingling and re-banding the WHOLE corpus. Probe
      // equality asserted (the IndexUpdateSpec contract at probe scale).
      val changedU = standing1.filter($"doc_id" % 50 === 7)
        .select($"doc_id",
          concat($"text", lit(" updated revision edition")).as("text"))
      val idxUpd = s"$base/lshidx_upd"
      val idxUpdRb = s"$base/lshidx_updrb"
      Dedup.writeLshIndex(standing1, idxUpd)
      // timed once: a second identical update is a trivially-cheap
      // no-op fold that would understate the cost (the merge precedent)
      val updS = timeSec(Dedup.updateInLshIndex(changedU, idxUpd))
      val rbS = timeSec(Dedup.writeLshIndex(standing1
        .join(changedU.select($"doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(changedU), idxUpdRb))
      val (pU, nU) = t2(Dedup.probeLshIndex(spark, idxUpd, delta1, 0.8).count())
      val (pUr, nUr) = t2(Dedup.probeLshIndex(spark, idxUpdRb, delta1, 0.8).count())
      require(nU == nUr, s"update vs rebuild-with-revisions diverged: $nU vs $nUr")
      println(f"SCALE u01_update            update(2%%)=${updS}%6.2fs  " +
        f"rebuild-with-revisions=${rbS}%6.2fs  cost-ratio=${updS / rbS}%5.2fx  " +
        f"(probe-upd=${pU}%5.2fs probe-rb=${pUr}%5.2fs, same answer)")
      // the same pricing at 10× standing mass: the x1 row is IO-tied
      // (5k docs of text make the rebuild's signature recompute free);
      // what update actually saves is re-reading and re-signing the
      // STANDING corpus text, which grows with the corpus while the
      // revision batch does not — the ratio is the row to watch
      val standing10u = standing1.unionByName(copies9)
      val idxU10 = s"$base/lshidx_upd10"
      val idxU10rb = s"$base/lshidx_upd10rb"
      Dedup.writeLshIndex(standing10u, idxU10)
      val updS10 = timeSec(Dedup.updateInLshIndex(changedU, idxU10))
      val rbS10 = timeSec(Dedup.writeLshIndex(standing10u
        .join(changedU.select($"doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(changedU), idxU10rb))
      val (pU10, nU10) = t2(Dedup.probeLshIndex(spark, idxU10, delta1, 0.8).count())
      val (pUr10, nUr10) = t2(Dedup.probeLshIndex(spark, idxU10rb, delta1, 0.8).count())
      require(nU10 == nUr10,
        s"x10 update vs rebuild-with-revisions diverged: $nU10 vs $nUr10")
      println(f"SCALE u01_update_x10        update(0.2%%)=${updS10}%6.2fs  " +
        f"rebuild-with-revisions=${rbS10}%6.2fs  cost-ratio=${updS10 / rbS10}%5.2fx  " +
        f"(probe-upd=${pU10}%5.2fs probe-rb=${pUr10}%5.2fs, same answer)")

      // update-vs-rebuild pricing for the NON-LSH artifacts (round-18,
      // VERDICT r17 #4): the same protocol — 2% of standing revised,
      // update = one generation fold, rebuild = full write with the
      // revisions, serve/probe equality asserted — one row per family
      // at x1 and x10 standing mass so SCALE.md can price each
      // artifact's snapshot cadence, not just the LSH one.
      locally {
        import graft.operators.TextAnalysis
        // BM25: changedU is already the 2% revised doc set
        def bm25Row(tag: String, standing: DataFrame, pct: String): Unit = {
          val dir = s"$base/bm25upd_$tag"
          val rb = s"$base/bm25updrb_$tag"
          TextAnalysis.writeBm25Index(standing, dir)
          val updS = timeSec(TextAnalysis.updateInBm25Index(changedU, dir))
          val rbS = timeSec(TextAnalysis.writeBm25Index(standing
            .join(changedU.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(changedU), rb))
          val q = standing1.filter($"doc_id" < 20)
          def serve(d: String) = TextAnalysis.bm25TopKFromIndex(spark, d, q, 3)
            .collect().map(_.toString).toSet
          require(serve(dir) == serve(rb),
            s"bm25 $tag update vs rebuild-with-revisions diverged")
          println(f"SCALE t41_update_$tag%-7s update($pct%s)=${updS}%6.2fs  " +
            f"rebuild-with-revisions=${rbS}%6.2fs  cost-ratio=${updS / rbS}%5.2fx  " +
            f"(serve answers identical)")
        }
        bm25Row("x1", standing1, "2%")
        bm25Row("x10", standing10u, "0.2%")

        // payload: same doc sets as binary payloads, m-family verbs
        val pay = (d: DataFrame) =>
          d.select($"doc_id", encode($"text", "utf-8").as("payload"))
        def payRow(tag: String, standing: DataFrame, pct: String): Unit = {
          val dir = s"$base/payupd_$tag"
          val rb = s"$base/payupdrb_$tag"
          Multimodal.writePayloadIndex(pay(standing), dir)
          val updS = timeSec(Multimodal.updateInPayloadIndex(pay(changedU), dir))
          val rbS = timeSec(Multimodal.writePayloadIndex(pay(standing
            .join(changedU.select($"doc_id"), Seq("doc_id"), "left_anti")
            .unionByName(changedU)), rb))
          val deltaP = pay(delta1)
          def probe(d: String) =
            Multimodal.probePayloadIndex(spark, d, deltaP, 3).count()
          val (pU, pR) = (probe(dir), probe(rb))
          require(pU == pR, s"payload $tag update vs rebuild diverged: $pU vs $pR")
          println(f"SCALE m10_update_$tag%-7s update($pct%s)=${updS}%6.2fs  " +
            f"rebuild-with-revisions=${rbS}%6.2fs  cost-ratio=${updS / rbS}%5.2fx  " +
            f"(probe answers identical)")
        }
        payRow("x1", standing1, "2%")
        payRow("x10", standing10u, "0.2%")

        // IVF + IVFADC: the embeddings corpus (x10 = byte-copies, the
        // recrawl dup storm), 2% of ids re-embedded via the boundary-
        // crossing +0.3 nudge; quantizers FROZEN across update and
        // rebuild (the s18 contract — a rebuild that retrains is a
        // different artifact, not the comparison)
        val emb1u = spark.read.parquet(s"$base/x1/embeddings.parquet")
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val emb10u = spark.read.parquet(s"$base/x10/embeddings.parquet")
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        val centsU = Similarity.kmeansCentroids(emb1u, 5, 2).localCheckpoint()
        val changedVecs = emb10u.filter($"vec_id" % 50 === 7 &&
            $"vec_id" < 10000000L) // 2% of x1 ids — present in both corpora
          .select($"vec_id", transform($"v",
            (x, i) => when(i === 0, x + 0.3).otherwise(x)).as("v"))
          .localCheckpoint()
        def ivfRow(tag: String, standing: DataFrame, pct: String): Unit = {
          val dir = s"$base/ivfupd_$tag"
          val rb = s"$base/ivfupdrb_$tag"
          Similarity.writeIvfIndex(standing, centsU, dir)
          val updS = timeSec(Similarity.updateInIvfIndex(changedVecs, centsU, dir))
          val rbS = timeSec(Similarity.writeIvfIndex(standing
            .join(changedVecs.select($"vec_id"), Seq("vec_id"), "left_anti")
            .unionByName(changedVecs), centsU, rb))
          val q = emb1u.withColumn("nrm", Similarity.norm($"v"))
            .filter($"vec_id" < 20)
            .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
          def serve(d: String) =
            Similarity.ivfTopKFromIndex(spark, d, centsU, q, 2, 3)
              .collect().map(_.toString).toSet
          require(serve(dir) == serve(rb),
            s"ivf $tag update vs rebuild-with-revisions diverged")
          println(f"SCALE s31_update_$tag%-7s update($pct%s)=${updS}%6.2fs  " +
            f"rebuild-with-revisions=${rbS}%6.2fs  cost-ratio=${updS / rbS}%5.2fx  " +
            f"(serve answers identical)")
        }
        ivfRow("x1", emb1u, "2%")
        ivfRow("x10", emb10u, "0.2%")

        // IVFADC (frozen coarse + PQ books trained once on x1)
        val dsubU = 4
        val vq1 = Similarity.pqSubvectors(emb1u, 64).localCheckpoint()
        val coarseU = Similarity.pqCodebooks(vq1, 5, 2).localCheckpoint()
        val rsvU = Similarity.coarseResidualsForSpec(vq1, coarseU)
          .select($"vec_id", posexplode(Similarity.subSplit($"r", dsubU)))
          .toDF("vec_id", "sub", "sv")
        val booksU = Similarity.pqCodebooks(rsvU, 16, 2).localCheckpoint()
        val changedVq = Similarity.pqSubvectors(changedVecs, 64).localCheckpoint()
        def adcRow(tag: String, standing: DataFrame, pct: String): Unit = {
          val dir = s"$base/adcupd_$tag"
          val rb = s"$base/adcupdrb_$tag"
          val standingVq = Similarity.pqSubvectors(standing, 64)
          Similarity.writeIvfAdcIndex(standingVq, coarseU, booksU, dsubU, dir)
          val updS = timeSec(
            Similarity.updateInIvfAdcIndex(changedVq, dsubU, dir))
          val rbS = timeSec(Similarity.writeIvfAdcIndex(
            standingVq.join(changedVq.select($"vec_id").distinct(),
                Seq("vec_id"), "left_anti")
              .unionByName(changedVq), coarseU, booksU, dsubU, rb))
          val qVq = vq1.filter($"vec_id" < 20)
          def serve(d: String) =
            Similarity.ivfAdcTopKFromIndex(spark, d, qVq, dsubU, 2, 3)
              .collect().map(_.toString).toSet
          require(serve(dir) == serve(rb),
            s"ivfadc $tag update vs rebuild-with-revisions diverged")
          println(f"SCALE s27_update_$tag%-7s update($pct%s)=${updS}%6.2fs  " +
            f"rebuild-with-revisions=${rbS}%6.2fs  cost-ratio=${updS / rbS}%5.2fx  " +
            f"(serve answers identical)")
        }
        adcRow("x1", emb1u, "2%")
        adcRow("x10", emb10u, "0.2%")
      }

      // tombstone-mask economics for the BM25 and IVF artifacts
      // (round-17, VERDICT r16 #7): serve cost of (a) a NEVER-deleted
      // index — the zero-tombstone fast path, plan-identical to
      // pre-deletion, no `_tombstones` scan; (b) 10%-tombstoned — the
      // broadcast anti-join mask; (c) rebuilt without the removed
      // rows; (d) after compaction reclaims the lane (back on the
      // fast path). Same top-k row count required at every masked
      // point (content equality is IndexDeletionSpec's).
      locally {
        import graft.operators.{Similarity, TextAnalysis}
        val docs1 = spark.read.parquet(s"$base/x1/documents.parquet")
          .select($"doc_id", $"text")
        val bmDir = s"$base/bm25idx"
        val bmLive = s"$base/bm25idx_live"
        TextAnalysis.writeBm25Index(docs1, bmDir)
        val qB = docs1.filter($"doc_id" < 20)
        def bmServe(d: String) =
          TextAnalysis.bm25TopKFromIndex(spark, d, qB, 3).count()
        val (bClean, _) = t2(bmServe(bmDir))
        val removedB = docs1.filter($"doc_id" % 10 === 3 && $"doc_id" >= 20)
          .select($"doc_id")
        TextAnalysis.deleteFromBm25Index(removedB, bmDir)
        TextAnalysis.writeBm25Index(
          docs1.join(removedB, Seq("doc_id"), "left_anti"), bmLive)
        val (bTomb, nbT) = t2(bmServe(bmDir))
        val (bLive, nbL) = t2(bmServe(bmLive))
        require(nbT == nbL, s"bm25 mask vs rebuild row counts: $nbT vs $nbL")
        TextAnalysis.compactBm25Index(spark, bmDir)
        val (bRecl, nbR) = t2(bmServe(bmDir))
        require(nbR == nbL, s"bm25 post-reclaim row counts: $nbR vs $nbL")
        println(f"SCALE t41_tombstones        serve-clean=${bClean}%6.2fs  " +
          f"serve-10%%-tombstoned=${bTomb}%6.2fs  serve-rebuilt=${bLive}%6.2fs  " +
          f"serve-after-reclaim=${bRecl}%6.2fs  mask-overhead=${bTomb / bLive}%5.2fx")
        val emb1 = spark.read.parquet(s"$base/x1/embeddings.parquet")
          .select($"vec_id", $"embedding".cast("array<double>").as("v"))
          .withColumn("nrm", Similarity.norm($"v"))
        val cents = Similarity.kmeansCentroids(emb1.select($"vec_id", $"v"), 5, 2)
        val ivDir = s"$base/ivfidx_tomb"
        val ivLive = s"$base/ivfidx_live"
        Similarity.writeIvfIndex(emb1.select($"vec_id", $"v"), cents, ivDir)
        val qV = emb1.filter($"vec_id" < 20)
          .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
        def ivServe(d: String) =
          Similarity.ivfTopKFromIndex(spark, d, cents, qV, 2, 3).count()
        val (vClean, _) = t2(ivServe(ivDir))
        val removedV = emb1.filter($"vec_id" % 10 === 3 && $"vec_id" >= 20)
          .select($"vec_id")
        Similarity.deleteFromIvfIndex(removedV, ivDir)
        Similarity.writeIvfIndex(
          emb1.select($"vec_id", $"v")
            .join(removedV, Seq("vec_id"), "left_anti"), cents, ivLive)
        val (vTomb, nvT) = t2(ivServe(ivDir))
        val (vLive, nvL) = t2(ivServe(ivLive))
        require(nvT == nvL, s"ivf mask vs rebuild row counts: $nvT vs $nvL")
        Similarity.compactIvfIndex(spark, ivDir)
        val (vRecl, nvR) = t2(ivServe(ivDir))
        require(nvR == nvL, s"ivf post-reclaim row counts: $nvR vs $nvL")
        println(f"SCALE s31_tombstones        serve-clean=${vClean}%6.2fs  " +
          f"serve-10%%-tombstoned=${vTomb}%6.2fs  serve-rebuilt=${vLive}%6.2fs  " +
          f"serve-after-reclaim=${vRecl}%6.2fs  mask-overhead=${vTomb / vLive}%5.2fx")
      }

      // d25 economics (round-16): cluster MAINTENANCE at delta cost.
      // full = one-shot CC over the whole x10 corpus's LSH pair set
      // (what d08/d17 recompute per run); merge = the same 2% delta's
      // probed pairs folded into a PERSISTED standing cluster map —
      // endpoint semi-scan + CC over the rep-projected delta graph
      // only. Equality of the resulting maps is asserted (the
      // ClusterMaintenanceSpec contract, at probe scale).
      val vx10 = spark.read.parquet(s"$base/x10/documents.parquet")
        .select($"doc_id", $"text")
      val baseMax10 = spark.read.parquet(s"$base/x1/documents.parquet")
        .agg(max($"doc_id")).head().getLong(0)
      val cut10 = 9L * 10000000L + (baseMax10 * 4) / 5
      val standingPairs = Dedup
        .minhashLshPairs(vx10.filter($"doc_id" <= cut10)).select($"d1", $"d2")
      val mapDir = s"$base/clustermap"
      Dedup.writeClusterMap(standingPairs, mapDir)
      val deltaPairs10 = Dedup.probeLshIndex(spark, s"$base/lshidx",
        vx10.filter($"doc_id" > cut10), 0.8).select($"d1", $"d2")
        .localCheckpoint()
      val (fullCcS, _) = t2(Dedup.clusterPairs(
        Dedup.minhashLshPairs(vx10).select($"d1", $"d2"))
        .queryExecution.toRdd.count())
      // timed ONCE (not t2): a second run would re-merge already-known
      // pairs — idempotent but trivially cheap, understating the cost
      val mergeS = timeSec {
        Dedup.mergeIntoClusterMap(deltaPairs10, mapDir)
        Dedup.readClusterMap(spark, mapDir).queryExecution.toRdd.count()
      }
      val mMap = Dedup.readClusterMap(spark, mapDir)
        .as[(Long, Long)].collect().toMap
      val fMap = Dedup.clusterPairs(
          Dedup.minhashLshPairs(vx10).select($"d1", $"d2"))
        .as[(Long, Long)].collect().toMap
      require(mMap == fMap,
        s"merged map diverged from one-shot CC: ${mMap.size} vs ${fMap.size}")
      println(f"SCALE d25_cluster_merge     full-cc-x10=${fullCcS}%6.2fs  " +
        f"merge-delta(2%%, persisted map)=${mergeS}%6.2fs  " +
        f"cost-ratio=${mergeS / fullCcS}%5.2fx (maps identical)")
    }
    // m10 steady state: the same economics for payloads — a 2% delta
    // probed against the persisted band table vs a full m07 recompute
    // on the x10 corpus (production never re-reads standing payload
    // bytes; the probe's standing input is the ~200 B/payload index)
    locally {
      val vx = spark.read.parquet(s"$base/x10/documents.parquet")
        .select($"doc_id", encode($"text", "utf-8").as("payload"))
      val baseMaxD = spark.read.parquet(s"$base/x1/documents.parquet")
        .agg(max($"doc_id")).head().getLong(0)
      val cutD = 9L * 10000000L + (baseMaxD * 4) / 5
      val idxDir = s"$base/payloadidx"
      Multimodal.writePayloadIndex(vx.filter($"doc_id" <= cutD), idxDir)
      val (f, _) = t2(Multimodal.perceptualNearDupPairs(vx, 7).count())
      val (dl, _) = t2(Multimodal.probePayloadIndex(spark, idxDir,
        vx.filter($"doc_id" > cutD), 7).count())
      println(f"SCALE m10_delta_x10         full-m07=${f}%6.2fs  " +
        f"probe-m10(2%%, persisted index)=${dl}%6.2fs  cost-ratio=${dl / f}%5.2fx")
    }
    row("d15_substring_spans", t2(d15At("x1")), t2(d15At("x10")))

    // ANN under the dup storm: k grows with n so the per-bucket compare
    // budget stays constant (k = n/250); maxBucket guards the storm's
    // cosine-1 twin pileups from going quadratic in one key
    def s08At(tag: String, k: Int) = {
      val c = spark.read.parquet(s"$base/$tag/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      Similarity.ivfNearDupPairs(c, Similarity.seedCentroids(c, k), 0.45,
        nprobe = 2, maxBucket = 4000L).count()
    }
    row("s08_ivf_neardup", t2(s08At("x1", 8)), t2(s08At("x10", 80)))

    // ANN compression stack + BM25 (r9 carried item): their 100 TB
    // claims were argument-only. Query side stays FIXED (vec_id/doc_id
    // < 20 — the id shift keeps copies > 10^7), corpus grows 10×, so
    // the t-ratio isolates the corpus-proportional work: quantizer
    // training + code assignment for s12/s13, the quantize+scan for
    // s14, the tf/dlen index build for t25 (its scoring join moves only
    // postings of the 20 queries' terms — the ~c token suffix keeps
    // those x1-sized by construction, exactly the inverted-index
    // economics the scaladoc claims).
    row("s12_pq_topk",
      t2(Similarity.s12PqTopK(spark, docsAt("x1")).count()),
      t2(Similarity.s12PqTopK(spark, docsAt("x10")).count()))
    row("s13_ivfadc_topk",
      t2(Similarity.s13IvfAdcTopK(spark, docsAt("x1")).count()),
      t2(Similarity.s13IvfAdcTopK(spark, docsAt("x10")).count()))
    row("s14_int8_topk",
      t2(Similarity.s14Int8TopK(spark, docsAt("x1")).count()),
      t2(Similarity.s14Int8TopK(spark, docsAt("x10")).count()))
    row("t25_bm25",
      t2(operators.TextAnalysis.t25Bm25(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t25Bm25(spark, docsAt("x10")).count()))
    // s16: pre-rank is one broadcast pass over the signature lane —
    // fixed query side, corpus ×10 ⇒ t-ratio ~linear; the dup storm
    // costs nothing extra (Hamming ties broken by id, no bucket term)
    row("s16_binary_topk",
      t2(Similarity.s16BinaryTopK(spark, docsAt("x1")).count()),
      t2(Similarity.s16BinaryTopK(spark, docsAt("x10")).count()))
    // s19: fixed benchmark (the x1 id range < 50), corpus ×10 — the
    // bench matrix rides inside the expression, so the plan is one
    // broadcast-matrix map stage and the t-ratio tracks row count
    def s19At(tag: String) = {
      val c = spark.read.parquet(s"$base/$tag/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      Similarity.benchDecontaminationAudit(
        c.filter($"vec_id" >= 50), c.filter($"vec_id" < 50), 0.45).count()
    }
    row("s19_bench_decontam", t2(s19At("x1")), t2(s19At("x10")))
    // s21: same fixed benchmark, corpus ×10, but candidates from the
    // probed equi-join instead of the broadcast matrix — the t-ratio
    // should stay ~linear (per-corpus-vector work is the probed
    // buckets' bench mass, constant here)
    row("s21_probed_decontam",
      t2(Similarity.s21ProbedDecontamination(spark, docsAt("x1")).count()),
      t2(Similarity.s21ProbedDecontamination(spark, docsAt("x10")).count()))
    // c16 DSIR: both LMs are B-bucket integer aggregates (∝ corpus
    // token mass; shuffle fan-in capped at B rows), scoring join
    // fan-out 1 per occurrence — linear end to end, no vocab-mass state
    row("c16_dsir_selection",
      t2(operators.Curation.c16DsirSelection(spark, docsAt("x1")).count()),
      t2(operators.Curation.c16DsirSelection(spark, docsAt("x10")).count()))
    // c16 score-only: the production steady state — the λ model fitted
    // ONCE and reloaded from parquet, each batch pays only the explode
    // + broadcast join + per-doc sum (vs the registered entry's
    // fit-inclusive cost; the t30 encode-only symmetry)
    locally {
      val d10 = spark.read.parquet(s"$base/x10/documents.parquet")
        .select($"doc_id", $"text", $"source")
      val pool10 = d10.filter(!$"source".isin("src1", "src2"))
      val modelDir = s"$base/dsir-model"
      operators.Curation.dsirModel(pool10,
        d10.filter($"source".isin("src1", "src2")), 2048)
        .write.mode("overwrite").parquet(modelDir)
      val m = spark.read.parquet(modelDir)
      val (fit, _) = t2(operators.Curation.c16DsirSelection(spark, docsAt("x10")).count())
      val (sc, n) = t2(operators.Curation.dsirScoreWith(pool10, m, 2048).count())
      println(f"SCALE c16_score_only        fit+select=${fit}%6.2fs  " +
        f"score-only(persisted model, $n docs)=${sc}%6.2fs  cost-ratio=${sc / fit}%5.2fx")
    }
    // s23 SemDeDup under the recrawl dup storm: the ×10 embeddings are
    // byte-exact copies, so every vector gains 9 cosine-1 twins and
    // within-cluster candidate mass grows ~100× — the honest
    // quadratic-within-bucket signature (production runs an m05-style
    // exact pre-pass first, or s08's maxBucket cap; this row measures
    // the uncapped oracle form so the pileup is visible, not hidden)
    row("s23_semdedup",
      t2(Similarity.s23SemDedup(spark, docsAt("x1")).count()),
      t2(Similarity.s23SemDedup(spark, docsAt("x10")).count()))
    // m12: CDC chunking is one codegen'd byte pass; the pair join is
    // the m06 inverted index over chunk hashes — linear in chunk mass
    // (the ~c suffixing keeps chunks within-copy, pairs scale ×10)
    row("m12_cdc_neardup",
      t2(Multimodal.m12CdcNearDup(spark, docsAt("x1")).count()),
      t2(Multimodal.m12CdcNearDup(spark, docsAt("x10")).count()))
    // t37: the window runs over TYPE rows (vocab), not token rows; the
    // suffixed copies grow the vocabulary ×10 — the worst case
    row("t37_coverage_curve",
      t2(operators.TextAnalysis.t37CoverageCurve(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t37CoverageCurve(spark, docsAt("x10")).count()))
    // t34: per-row rules + one doc-keyed histogram — linear
    row("t34_gopher_rules",
      t2(operators.TextAnalysis.t34GopherRules(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t34GopherRules(spark, docsAt("x10")).count()))
    // t35: two shingle-keyed linear shuffles; the ~c suffixing means
    // cross-copy shingles never merge, first-owner table scales ×10
    row("t35_ngram_novelty",
      t2(operators.TextAnalysis.t35NgramNovelty(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t35NgramNovelty(spark, docsAt("x10")).count()))
    // c18: per-lang running offsets + per-row span explode — linear,
    // no join; output mass ≈ rows + token mass / 512
    row("c18_sequence_manifest",
      t2(operators.Curation.c18SequenceManifest(spark, docsAt("x1")).count()),
      t2(operators.Curation.c18SequenceManifest(spark, docsAt("x10")).count()))
    // s26 (r14): s23's collapsed production form measured on the SAME
    // dup-storm corpus as the s23 row above — byte-exact copies
    // collapse to one rep each, so the within-cluster pair join runs
    // at distinct-vector cardinality while s23's uncapped form pays
    // the ~100× candidate pileup; the two rows together price the
    // guard (answers identical by the s26 contract)
    row("s26_semdedup_collapsed",
      t2(Similarity.s26SemDedupCollapsed(spark, docsAt("x1")).count()),
      t2(Similarity.s26SemDedupCollapsed(spark, docsAt("x10")).count()))
    // s27 (r14): train (memoized) + encode + persist + pruned serve —
    // encode is linear, serve bounded by probed lists
    row("s27_ivfadc_persisted",
      t2(Similarity.s27IvfAdcPersisted(spark, docsAt("x1")).count()),
      t2(Similarity.s27IvfAdcPersisted(spark, docsAt("x10")).count()))
    // t38 (r14): nine doc-keyed explode/count/reduce branches — t34's
    // linear shape ×9
    row("t38_repetition_signals",
      t2(operators.TextAnalysis.t38RepetitionSignals(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t38RepetitionSignals(spark, docsAt("x10")).count()))
    // m13/m14 (r14): one narrow chunk pass + map-side-combined
    // distincts and rollups — linear in chunk mass
    row("m13_storage_dedup",
      t2(Multimodal.m13StorageDedup(spark, docsAt("x1")).count()),
      t2(Multimodal.m13StorageDedup(spark, docsAt("x10")).count()))
    row("m14_cdc_storage_dedup",
      t2(Multimodal.m14CdcStorageDedup(spark, docsAt("x1")).count()),
      t2(Multimodal.m14CdcStorageDedup(spark, docsAt("x10")).count()))
    // c20 (r14): one per-source aggregate + a single-row reduce — flat
    row("c20_mixture_diversity",
      t2(operators.Curation.c20MixtureDiversity(spark, docsAt("x1")).count()),
      t2(operators.Curation.c20MixtureDiversity(spark, docsAt("x10")).count()))
    // r15 rows: toRdd.count, not count() — count() lets Catalyst
    // ELIMINATE the work these rows exist to measure (d22's final
    // left join has a provably-unique right key so the whole pair
    // join drops out of a count; m15's profile column prunes to a
    // metadata count)
    def mat(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // s28 (r15): s13's serving plan + one broadcast exact-cosine
    // lookup of <= |Q|*k pairs — tracks s13's own scaling
    row("s28_adc_recall_audit",
      t2(mat(Similarity.s28AdcRecallAudit(spark, docsAt("x1")))),
      t2(mat(Similarity.s28AdcRecallAudit(spark, docsAt("x10")))))
    // d22 (r15): one exact pair join at tau=0.7 + a per-doc max + a
    // 7-row broadcast tau axis — the pair join dominates, d03's shape
    row("d22_survival_curve",
      t2(mat(Dedup.d22SurvivalCurve(spark, docsAt("x1")))),
      t2(mat(Dedup.d22SurvivalCurve(spark, docsAt("x10")))))
    // m15 (r15): one codegen'd per-row byte fold — the linear floor,
    // bounded by payload scan I/O
    row("m15_byte_profile",
      t2(mat(Multimodal.m15PayloadByteProfile(spark, docsAt("x1")))),
      t2(mat(Multimodal.m15PayloadByteProfile(spark, docsAt("x10")))))
    // c21 (r15): c01's marks frame + a |sources|-key rollup — tracks
    // the c01 pipeline's own scaling
    row("c21_token_yield",
      t2(mat(operators.Curation.c21TokenYield(spark, docsAt("x1")))),
      t2(mat(operators.Curation.c21TokenYield(spark, docsAt("x10")))))
    // c22 (r15): per-row regex work inside codegen + a |sources|-key
    // rollup — the linear floor, bounded by the text scan
    row("c22_pii_canary_audit",
      t2(mat(operators.Curation.c22PiiCanaryAudit(spark, docsAt("x1")))),
      t2(mat(operators.Curation.c22PiiCanaryAudit(spark, docsAt("x10")))))
    // t39 (r15): per-(doc,token) counts → vocab partial agg → Zipf-
    // skewed model join → doc rollup; the ~c suffixing grows vocab 10×
    // too, the worst case for the model-join side
    row("t39_unigram_surprisal",
      t2(mat(operators.TextAnalysis.t39UnigramSurprisal(spark, docsAt("x1")))),
      t2(mat(operators.TextAnalysis.t39UnigramSurprisal(spark, docsAt("x10")))))
    // s30 (r15): s13's stack at depth 10 + a query-proportional
    // broadcast raw-vector lookup — tracks s13's own scaling
    row("s30_refined_topk",
      t2(mat(Similarity.s30RefinedTopK(spark, docsAt("x1")))),
      t2(mat(Similarity.s30RefinedTopK(spark, docsAt("x10")))))
    // m16 (r15): per-row payload build + 8-byte prefix sniff, one
    // <= |types|^2-key rollup — the linear floor
    row("m16_modality_sniff",
      t2(mat(Multimodal.m16ModalitySniff(spark, docsAt("x1")))),
      t2(mat(Multimodal.m16ModalitySniff(spark, docsAt("x10")))))
    // c23 (r15): t02's expression + t34's doc histogram + two id-keyed
    // joins + a |sources|-key rollup — tracks t34's own scaling
    row("c23_filter_agreement",
      t2(mat(operators.Curation.c23FilterAgreement(spark, docsAt("x1")))),
      t2(mat(operators.Curation.c23FilterAgreement(spark, docsAt("x10")))))
    // d23 (r15): d08's pair join + CC (the dominant term) + one doc-
    // keyed left join and two small rollups — tracks d08's own scaling
    row("d23_cluster_mass",
      t2(mat(Dedup.d23ClusterMass(spark, docsAt("x1")))),
      t2(mat(Dedup.d23ClusterMass(spark, docsAt("x10")))))
    // d24 (r15): d08's CC + t02's per-row score + rep-keyed windows —
    // d23's profile with the quality join added
    row("d24_keep_best",
      t2(mat(Dedup.d24KeepBest(spark, docsAt("x1")))),
      t2(mat(Dedup.d24KeepBest(spark, docsAt("x10")))))
    // m17 (r15): two narrow chunking passes + a hash-keyed anti-join —
    // linear in chunk mass, the m14 shape with the old-set membership
    row("m17_snapshot_transfer",
      t2(mat(Multimodal.m17SnapshotTransfer(spark, docsAt("x1")))),
      t2(mat(Multimodal.m17SnapshotTransfer(spark, docsAt("x10")))))
    // d25 (r16): standing-pair CC + rep-projected delta CC — the pair
    // joins dominate (d03's shape); the merge core itself is delta-sized
    row("d25_incremental_clusters",
      t2(mat(Dedup.d25IncrementalClusters(spark, docsAt("x1")))),
      t2(mat(Dedup.d25IncrementalClusters(spark, docsAt("x10")))))
    // d26 (r16): d21's probe + the tombstone masks (three broadcast
    // anti-joins + a delta-sized dead-count correction)
    row("d26_lsh_delete_probe",
      t2(mat(Dedup.d26LshDeleteProbe(spark, docsAt("x1")))),
      t2(mat(Dedup.d26LshDeleteProbe(spark, docsAt("x10")))))
    // d27 (r16): full-map build (pair join + CC) + affected-subgraph
    // re-label + one pass-through members rewrite — ~2× d08's profile
    row("d27_cluster_delete",
      t2(mat(Dedup.d27ClusterDeleteMaintain(spark, docsAt("x1")))),
      t2(mat(Dedup.d27ClusterDeleteMaintain(spark, docsAt("x10")))))
    // u01 (r17): index build + one-generation update fold + d21's
    // probe — the build and fold passes dominate (linear in lane mass)
    row("u01_lsh_update_probe",
      t2(mat(Dedup.u01LshUpdateProbe(spark, docsAt("x1")))),
      t2(mat(Dedup.u01LshUpdateProbe(spark, docsAt("x10")))))
    // s31 (r16): s17's persisted serve + one broadcast anti-join mask
    row("s31_ivf_delete_serve",
      t2(mat(Similarity.s31IvfDeleteServe(spark, docsAt("x1")))),
      t2(mat(Similarity.s31IvfDeleteServe(spark, docsAt("x10")))))
    // m18 (r16): m10's banded probe + one broadcast anti-join mask
    row("m18_payload_delete_probe",
      t2(mat(Multimodal.m18PayloadDeleteProbe(spark, docsAt("x1")))),
      t2(mat(Multimodal.m18PayloadDeleteProbe(spark, docsAt("x10")))))
    // t40 (r16): per-row rotation + detection expressions, one
    // <= |langs|·|detected|-key rollup — the linear floor
    row("t40_lang_mismatch",
      t2(mat(operators.TextAnalysis.t40LangMismatchAudit(spark, docsAt("x1")))),
      t2(mat(operators.TextAnalysis.t40LangMismatchAudit(spark, docsAt("x10")))))
    // t41 (r16): build (tf agg + bucketed write) + pruned serve; the
    // ~c suffixing grows vocabulary 10× (worst case for postings keys)
    row("t41_bm25_persisted",
      t2(mat(operators.TextAnalysis.t41Bm25Persisted(spark, docsAt("x1")))),
      t2(mat(operators.TextAnalysis.t41Bm25Persisted(spark, docsAt("x10")))))
    // t28: two hash aggs over token/hash mass — the linear floor
    row("t28_sketch_profile",
      t2(operators.TextAnalysis.t28SketchProfile(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t28SketchProfile(spark, docsAt("x10")).count()))
    // t29: the ~c suffixing grows the VOCABULARY 10× too (worst case
    // for the histogram reduction — real corpora grow vocab ≪ mass),
    // so both the agg and the driver loop scale ~10×
    row("t29_bpe_train",
      t2(operators.TextAnalysis.t29BpeTrain(spark, docsAt("x1")).count()),
      t2(operators.TextAnalysis.t29BpeTrain(spark, docsAt("x10")).count()))
    // t29 at merge DEPTH: 40 vs 1000 merges, both on the 10× corpus —
    // bounded only because the loop maintains pair counts incrementally
    // (per-merge cost ∝ affected words); the pre-r11 full recount was
    // O(merges × vocab × word length) and this row would take ~25× the
    // 40-merge time instead of the ~flat cost the inverted index gives
    def bpeAt(tag: String, m: Int) = {
      val d = spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id", $"text")
      operators.TextAnalysis.bpeTrain(d, m).size.toLong
    }
    row("t29_merge_depth_x10",
      t2(bpeAt("x10", 40)), t2(bpeAt("x10", 1000)))
    // t30 encode-only: the production tokenization pass — table trained
    // ONCE and loaded from its parquet artifact, then the corpus encode
    // is a pure map stage; this is the docs/s number a 100 TB pass
    // cares about (the registered t30 entry instead retrains inline to
    // stay oracle-self-contained, so its bench time is ~half training)
    val tableDir = s"$base/merge-table"
    operators.TextAnalysis.saveMergeTable(
      operators.TextAnalysis.bpeTrain(
        spark.read.parquet(s"$base/x1/documents.parquet")
          .select($"doc_id", $"text"), 40), tableDir)
    val loadedTable = operators.TextAnalysis.loadMergeTable(spark, tableDir)
    def encodeOnly(tag: String): Long =
      spark.read.parquet(s"$base/$tag/documents.parquet")
        .select($"doc_id",
          size(graft.functions.BpeEncode($"text", loadedTable)).as("n"))
        .agg(sum($"n")).head().getLong(0)
    val enc1 = t2(encodeOnly("x1")); val enc10 = t2(encodeOnly("x10"))
    row("t30_encode_only", (enc1._1, nDocs1), (enc10._1, nDocs10))
    println(f"ENCODE t30 pre-trained table: x1 ${nDocs1 / enc1._1}%9.0f docs/s" +
      f" (${enc1._2}%12d bpe tokens)  x10 ${nDocs10 / enc10._1}%9.0f docs/s" +
      f" (${enc10._2}%12d bpe tokens)")

    // s17/s18 persisted-index economics at 10×: full inverted-file
    // rebuild over the x10 corpus vs appending a 2% delta (last 20% of
    // the last copy) to a standing index — append must cost ~the delta
    // fraction plus fixed job overhead, never the corpus
    locally {
      import operators.Similarity
      def embX(tag: String) = spark.read.parquet(s"$base/$tag/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val cen = Similarity.trainedCentroids(spark, docsAt("x10"), k = 5, iters = 2)
      val vx = embX("x10")
      val baseMax = embX("x1").agg(max($"vec_id")).head().getLong(0)
      val cut = 9L * 10000000L + (baseMax * 4) / 5 // 2% of the x10 corpus
      val standing = vx.filter($"vec_id" <= cut)
      val delta = vx.filter($"vec_id" > cut)
      val nDelta = delta.count(); val nAll = vx.count()
      val rbDir = java.nio.file.Files.createTempDirectory("s18-rb").toString
      val rebuildS = math.min(
        timeSec(Similarity.writeIvfIndex(vx, cen, rbDir)),
        timeSec(Similarity.writeIvfIndex(vx, cen, rbDir)))
      val apDir = java.nio.file.Files.createTempDirectory("s18-ap").toString
      Similarity.writeIvfIndex(standing, cen, apDir)
      // append twice, min — each append writes the same delta-sized
      // files; duplicate ids are fine for a write-cost measurement
      val appendS = math.min(
        timeSec(Similarity.appendToIvfIndex(delta, cen, apDir)),
        timeSec(Similarity.appendToIvfIndex(delta, cen, apDir)))
      println(f"SCALE s18_append_x10        rebuild=${rebuildS}%6.2fs ($nAll%8d vecs)  " +
        f"append=${appendS}%6.2fs ($nDelta%8d vecs, ${100.0 * nDelta / nAll}%4.1f%%)  " +
        f"cost-ratio=${appendS / rebuildS}%5.2fx")
      BenchUtil.rmTree(rbDir); BenchUtil.rmTree(apDir)
    }

    if (quad) {
      // the exact quadratic baseline, to show WHY s08 is the scale path:
      // s04 compares all pairs regardless of data — 100× work at 10× rows
      def s04At(tag: String) =
        Similarity.s04BlockedNearDup(spark, s"$base/$tag").count()
      row("s04_exact_blocked", t2(s04At("x1")), t2(s04At("x10")))
    }
    BenchUtil.rmTree(base) // ~120 MB of probe corpus per run otherwise
    spark.stop()
  }
}
