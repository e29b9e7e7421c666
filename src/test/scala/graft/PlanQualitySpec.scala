package graft

import org.apache.spark.sql.functions._
import graft.operators.MatchJoin
import graft.dedup.Dedup

/** Plan-quality guards: the optimizations the 100 TB design depends on
  * must stay visible in the physical plan — a regression here is a
  * silent order-of-magnitude cost at scale even though results stay
  * correct. */
class PlanQualitySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q04 filter reaches the parquet scan (PushedFilters)") {
    val p = plan("q04_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filters in:\n$p")
    // column pruning: scan must not read more than the 4 needed columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"))
  }

  test("q02 referential joins broadcast (no shuffle join)") {
    val p = plan("q02_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"referential join shuffled:\n$p")
  }

  test("q03 top-k rank uses WindowGroupLimit (rank pushdown)") {
    assert(plan("q03_rank_topk").contains("WindowGroupLimit"))
  }

  test("q01 aggregation is map-side partial") {
    assert(plan("q01_agg").contains("partial_sum"))
  }

  test("q31 shuffle anonymization never plans a single-partition window") {
    val p = plan("q31_shuffle")
    assert(!p.contains("Exchange SinglePartition"),
      s"global window crept back into shuffleCols:\n$p")
  }

  test("match-join candidate join is pinned to shuffled-hash (no SMJ sort, no misestimated broadcast)") {
    val p = plan("q29_match_topk")
    assert(p.contains("ShuffledHashJoin"), s"candidate join strategy drifted:\n$p")
  }

  test("q25 ANN broadcasts the query side; top-k prunes via WindowGroupLimit") {
    val p = plan("q25_ann_topk")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"queries must broadcast and the corpus stream:\n$p")
  }

  test("q112 containment: native intersect, shuffle-hash joins, NO corpus broadcast, no cartesian") {
    val p = plan("q112_containment_pairs")
    assert(p.contains("sorted_intersect_count"), p)
    // same contract as q24: the gram/posting frames are corpus-sized
    // and UDF-derived — candidates meet through the (block, gram)
    // shuffle join, never a broadcast or a cross product
    assert(!p.contains("BroadcastExchange"),
      s"corpus side must not be broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), s"expected shuffle-hash joins:\n$p")
  }

  test("q113 quantized ANN: query side broadcasts, top-k prunes via WindowGroupLimit") {
    val p = plan("q113_ann_quantized")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"quantized queries must broadcast and the corpus stream:\n$p")
  }

  test("q121 PQ ANN: query side (with ADC grids) broadcasts, codebook is a literal, top-k prunes via WindowGroupLimit") {
    val p = plan("q121_ann_pq")
    assert(p.contains("WindowGroupLimit"), p)
    // the query rows carry their ADC lookup grids and broadcast; the
    // coded corpus streams — the exact q25/q113 shape, but each
    // streamed row is m bytes of codes, not the vector
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"PQ queries must broadcast and the coded corpus stream:\n$p")
    // the codebook rides driver-side (ADC literals on the query side,
    // a broadcast closure in the encode UDF): no join, no shuffle, no
    // scan may appear for it
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q123 cross-source near-dup matrix: no cartesian; the rep-band self-join shuffles (corpus never broadcasts into it)") {
    val p = plan("q123_source_neardup_overlap")
    assert(!p.contains("CartesianProduct"), p)
    // the banded rep frame is corpus-sized and UDF-derived (static
    // stats unknown): candidates must meet through a SHUFFLE join on
    // (band, bucket) — a misestimated broadcast of the corpus side is
    // the fatal-at-scale plan this pin exists to catch. The tiny
    // totals table broadcasting at the END is fine and expected.
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
      s"the band self-join must be a shuffle join:\n$p")
  }

  test("q128 cross-source containment: native intersect, shuffle joins, NO corpus broadcast, no cartesian") {
    val p = plan("q128_source_containment_overlap")
    assert(p.contains("sorted_intersect_count"), p)
    // the q112 contract cross-source: prefix and posting frames are
    // corpus-sized and UDF-derived — candidates meet through the gram
    // shuffle join, never a broadcast of the corpus or a cross
    // product (the end-of-plan totals broadcast is tiny and expected)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"),
      s"expected shuffle-hash prefix x postings / re-attach joins:\n$p")
  }

  test("q111 classifier scoring: weights broadcast; no cartesian") {
    val p = plan("q111_classifier_score")
    assert(p.contains("BroadcastHashJoin"),
      s"the weight table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q114 soft dedup: one count window, no join, no single partition") {
    val p = plan("q114_dedup_weights")
    assert(!p.contains("Join"), s"weights need no join back:\n$p")
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("q24 jaccard: prefix-filtered candidates, native intersect, NO corpus broadcast") {
    val p = plan("q24_jaccard_pairs")
    assert(p.contains("sorted_intersect_count"), p)
    // the gram corpus must never ride a BroadcastExchange — at scale it
    // exceeds any broadcast limit; candidates meet through the
    // (block, prefix-gram) shuffle join and the verify joins are
    // shuffle-hash-pinned (the static planner under-estimates the
    // UDF-derived gram table and would broadcast it)
    assert(!p.contains("BroadcastExchange"),
      s"corpus side must not be broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected shuffle-hash joins:\n$p")
  }

  test("MatchQuery builds its plan lazily — no job before the action") {
    // regression guard: the corpus count used to run distinct().count()
    // at plan-build time (an extra full corpus scan + a blocking action);
    // it now rides the plan as a broadcast one-row aggregate
    import graft.operators.MatchQuery
    val left = Seq((1L, Seq("ab", "cd"))).toDF("lid", "toks")
    val right = Seq((10L, Seq("ab")), (11L, Seq("cd"))).toDF("rid", "toks")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val df = MatchQuery.run(left, right,
      MatchQuery.Spec(Seq(MatchQuery.Clause("toks", "toks"))), "lid", "rid")
    df.queryExecution.executedPlan // force full planning
    Thread.sleep(1000) // let the async status listener drain
    val after = tracker.getJobIdsForGroup(null).length
    assert(after == before,
      s"plan construction ran ${after - before} eager job(s)")
    assert(df.count() == 2) // still correct when the action DOES run
  }

  test("q43 bool-match candidate joins are pinned to shuffled-hash too") {
    val p = plan("q43_bool_match")
    assert(p.contains("ShuffledHashJoin"), s"template-join strategy drifted:\n$p")
  }

  test("match join maxDocFreq drops hot tokens but keeps rare-token recall") {
    val right = Seq(
      (1L, Seq("common", "rare1")),
      (2L, Seq("common", "rare2")),
      (3L, Seq("common")),
      (4L, Seq("common"))).toDF("id", "toks")
    val left = Seq((10L, Seq("common", "rare1"))).toDF("id", "toks")
    val uncapped = MatchJoin.topK(left, right, "toks", "toks", "id", "id", k = 10)
    assert(uncapped.count() == 4) // 'common' reaches every doc
    val capped = MatchJoin.topK(left, right, "toks", "toks", "id", "id", k = 10,
      maxDocFreq = 3)
    val hits = capped.collect().map(_.getAs[Long]("hit_id")).toSet
    assert(hits == Set(1L)) // only the rare token generates candidates
  }

  test("q46 winnow plans no shuffle at all (row-local kernel + explode)") {
    val p = plan("q46_winnow")
    assert(!p.contains("Exchange"),
      s"winnow should be scan -> project/generate with no shuffle:\n$p")
    assert(p.contains("Generate"), s"expected the fingerprint explode:\n$p")
  }

  test("q53 decontamination semi-joins on 64-bit gram hashes, never strings") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.LongType
    val df = SparkEntry.queries("q53_decontaminate")(spark, dir)
    val semis = df.queryExecution.optimizedPlan.collect {
      case j @ Join(_, _, LeftSemi, _, _) => j
    }
    assert(semis.nonEmpty, "expected the gram semi-join in the q53 plan")
    semis.foreach { j =>
      val keyTypes = j.condition.toSeq.flatMap(_.references.map(_.dataType)).distinct
      assert(keyTypes == Seq(LongType),
        s"gram semi-join must key on xxhash64 longs (8 B/gram in shuffle), got $keyTypes")
    }
  }

  test("row-local curation ops (chunk, repetition, gopher, pii) plan no shuffle") {
    for (q <- Seq("q54_chunks", "q55_repetition", "q56_gopher", "q57_pii_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q should be scan -> project/generate with no shuffle:\n$p")
    }
  }

  test("media decode queries (image/audio/video) plan no shuffle") {
    // decode is row-local; the video explode multiplies only decoded
    // STATS rows, payload bytes never enter an exchange
    for (q <- Seq("q61_image_decode", "q63_audio_decode", "q67_video_decode")) {
      val p = plan(q)
      assert(!p.contains("Exchange"),
        s"$q should be scan -> decode UDF with no shuffle:\n$p")
    }
  }

  test("q69 URL normalization is native Column work: no UDF, no shuffle") {
    // the higher-order filter/sort_array lambdas are native Catalyst
    // expressions (not codegen'd, but evaluated without serialization
    // boundaries) — the guard is NO ScalaUDF and NO exchange
    val p = plan("q69_url_normalize")
    assert(!p.contains("Exchange"), s"row-local op must not shuffle:\n$p")
    assert(!p.contains("UDF("), s"UrlTools must stay pure Column exprs:\n$p")
    // same contract for HTML extraction (round 9): a regexp tower over
    // the scan, nothing else
    val h = plan("q76_html_extract")
    assert(!h.contains("Exchange"), s"row-local op must not shuffle:\n$h")
    assert(!h.contains("UDF("), s"extractHtmlText must stay pure Column exprs:\n$h")
  }

  test("q90 bucketing plans no global sort; q93/q94 stay row-local") {
    // rankBuckets' whole reason to exist: the labeling pass must be a
    // broadcast join + row-local work, never a rangepartitioning
    // (global sort) over the corpus — only the histogram/straddle
    // windows may exchange
    val p = plan("q90_score_buckets")
    assert(!p.contains("rangepartitioning"),
      s"rankBuckets must not globally sort the corpus:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the score→bucket table should broadcast back:\n$p")
    // epochs mixing and conversation parsing are scan-side map work
    for (q <- Seq("q93_epochs_mix", "q94_conversation")) {
      val rp = plan(q)
      assert(!rp.contains("Exchange"), s"$q must be row-local:\n$rp")
      assert(!rp.contains("UDF("), s"$q must stay native Column exprs:\n$rp")
    }
  }

  test("q87 blocklist cut: the list broadcasts, the corpus never enters an exchange") {
    // the blocklist is the declared-small side — the anti-join must be
    // a static BroadcastHashJoin with no shuffle anywhere (the corpus
    // side stays map-side at any scale)
    val p = plan("q87_blocklist")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist must be a broadcast anti-join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus side must not shuffle for a blocklist cut:\n$p")
    // domain stats: ONE aggregation exchange (the groupBy), pure
    // Column domain/url arithmetic — no UDF
    val d = plan("q86_domain_stats")
    assert(!d.contains("UDF("), s"domainStats must stay pure Column exprs:\n$d")
    assert(d.split("Exchange hashpartitioning").length - 1 <= 2,
      s"domainStats should shuffle only for its two-phase distinct agg:\n$d")
  }

  test("q68 bloom prefilter drops grams map-side; the verdict id set joins by broadcast") {
    // two structural properties, one per corpus pass (round 9 — the id
    // set is persisted + counted at build, so the gram semi-join lives
    // inside the CACHED id plan and the outer verdict join sees a
    // declared-small relation):
    //  (1) inside the cached id plan, the bloom-probe UDF filter sits
    //      directly over the corpus SCAN — clean grams die before any
    //      exchange (the map-side-drop claim);
    //  (2) the outer verdict join is a static BroadcastHashJoin — the
    //      corpus itself never enters an exchange (the DecontamBench
    //      3-point finding: AQE's late flip still paid the full
    //      corpus shuffle WRITE).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val df = SparkEntry.queries("q68_decontaminate_bloom")(spark, dir)
    val op = df.queryExecution.optimizedPlan
    val caches = op.collect { case r: InMemoryRelation => r }
    assert(caches.nonEmpty, s"expected the cached contaminated-id set in:\n$op")
    // the cached plan is wrapped in AdaptiveSparkPlan/QueryStage nodes
    // that .collect cannot traverse, so assert on its rendered lines:
    // every bloom-probe filter must reach its FileScan with NO Exchange
    // in between (probe runs in the scan stage = the map-side drop)
    val lines = caches.map(_.cachedPlan.toString).mkString("\n").split("\n")
    val probeIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Filter UDF(xxhash64") => i }
    assert(probeIdxs.nonEmpty,
      s"bloom probe filter missing from the cached id plan:\n${lines.mkString("\n")}")
    probeIdxs.foreach { i =>
      val below = lines.drop(i + 1).takeWhile(!_.contains("FileScan"))
      assert(!below.exists(_.contains("Exchange")),
        s"an exchange sits between the bloom probe and the scan:\n${lines.mkString("\n")}")
    }
    val outer = df.queryExecution.executedPlan.toString
    assert(outer.contains("BroadcastHashJoin"),
      s"verdict ids must broadcast (corpus side exchange-free):\n$outer")
    assert(!outer.contains("SortMergeJoin"),
      s"corpus-side exchange crept back into the verdict join:\n$outer")
  }

  test("q59/q75 LM tables join the token stream by STATIC broadcast") {
    // the vocab-sized LM is declared-small; without the static hint the
    // planner exchanges the corpus token stream (510 MB measured at 1M
    // docs — AQE's late flip cannot unwrite it). Pin the hint's effect:
    // a broadcast join and NO sort-merge join anywhere in the plan.
    for (q <- Seq("q59_lm_logprob", "q75_dsir_select")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: LM join must be a static broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: token-stream exchange crept back in:\n$p")
    }
  }

  test("q58/q59 vocab aggregates are map-side partial, top-k is TakeOrdered") {
    val v = plan("q58_vocab")
    assert(v.contains("partial_count") || v.contains("Partial"),
      s"vocab count should partial-aggregate before the shuffle:\n$v")
    assert(v.contains("TakeOrderedAndProject"),
      s"vocab top-k must be TakeOrdered, not a global sort:\n$v")
    val lm = plan("q59_lm_logprob")
    assert(lm.contains("partial_count") || lm.contains("Partial"),
      s"LM build should partial-aggregate:\n$lm")
  }

  test("q72 ExactSubstr shuffles ONLY on its three declared key families") {
    // SCALE.md's substring-dedup row claims the complete shuffle
    // surface: gram hash (global >1 count + dup semi-join), (doc id,
    // pos) (coverage distinct + token anti-join), doc id (reassembly +
    // final re-attach). Pin it — a fourth family appearing here is an
    // undocumented exchange, exactly the drift the row exists to catch.
    val p = plan("q72_substring_dedup")
    val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .map(_.split(",\\s*").toSeq.dropRight(1) // trailing arg = numPartitions
        .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      .toSet
    assert(fams == Set("__h", "__p,id", "id"),
      s"shuffle key families drifted from SCALE.md's claim: $fams in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global exchange crept into ExactSubstr:\n$p")
  }

  test("q77 semantic decontamination never shuffles the corpus") {
    // the test vectors ride ONE one-row broadcast (collect_list →
    // crossJoin); each corpus row computes its max cosine row-local.
    // The only exchange in the plan is the single-row aggregate of the
    // bounded test set — a hashpartitioning exchange would mean the
    // corpus itself started moving.
    val p = plan("q77_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle crept into semantic decontamination:\n$p")
  }

  test("q80 incremental dedup exchanges only key-sized columns") {
    // the corpus contributes its md5 key alone (post-Bloom survivors);
    // the batch shuffles on the same key for the anti join and on
    // (key, id) for keep-min — document text never enters an exchange
    val p = plan("q80_incremental_dedup")
    val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .map(_.split(",\\s*").toSeq.dropRight(1)
        .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      .toSet
    assert(fams.subsetOf(Set("__ik", "__dedup_key", "doc_id")),
      s"non-key column entered an incremental-dedup exchange: $fams in:\n$p")
  }

  test("q102 encode: only the guarded rebalance exchange; segment is native, not a UDF") {
    val p = plan("q102_bpe_encode")
    // the ONLY exchange is rebalance's round-robin on the under-split
    // gate input — no hash exchange, no sort, no Python/Scala UDF node
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Sort "), p)
    assert(p.contains("bpe_segment_word"), p) // the native expression
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"), p)
  }

  test("q103 snapshot diff is one id-keyed full-outer exchange family") {
    val p = plan("q103_snapshot_diff")
    // both sides hash on doc_id (one key family), compare is row-local
    val fams = "hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(fams == Set("doc_id"), s"diff must exchange on the id only: $fams\n$p")
  }

  test("q104 skew stats: map-side partial count, TakeOrdered, broadcast rollup") {
    val p = plan("q104_skew_stats")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p) // rollup rides a broadcast
  }

  test("q105 incremental near-dup exchanges only its declared key families") {
    // the bloom path: corpus band rows meet the batch's on (band,
    // bucket) — post-filter collisions only; the pair collapse keys on
    // (__bid, __cid); the batch shingle re-attach on __bid; the final
    // verdict attach on the id. Document text itself never shuffles —
    // only shingle-hash arrays of colliding docs ride the band exchange.
    val p = plan("q105_incremental_neardup")
    val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .map(_.split(",\\s*").toSeq.dropRight(1)
        .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      .toSet
    assert(fams.subsetOf(Set("band,bucket", "__bid,__cid", "__bid", "doc_id")),
      s"unexpected exchange family: $fams in\n$p")
  }

  test("q106 source overlap: cached key table, broadcast totals, no single-partition stage") {
    val p = plan("q106_source_overlap")
    assert(p.contains("InMemoryTableScan"),
      s"the (source, key) table must cache across the matrix sides:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source totals must ride a broadcast:\n$p")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q96 e2e curation composes without growing the shuffle surface") {
    // six stages, but the exchanges stay exactly the stages' own:
    // __dedup_key (fingerprint keep-min), __gram_h (decontamination
    // gram meeting), doc_id (flag re-attach), lang (pack window). The
    // quality gate must contribute NOTHING — gopherKeep is a row-local
    // predicate, not a metric-frame self-join;
    // a new family here means a stage stopped fusing.
    val p = plan("q96_curation_e2e")
    val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .map(_.split(",\\s*").toSeq.dropRight(1)
        .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      .toSet
    assert(fams.subsetOf(Set("__dedup_key", "__gram_h", "doc_id", "lang")),
      s"undeclared shuffle family in the e2e chain: $fams in:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global exchange crept into the e2e chain:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a join stopped hashing:\n$p")
  }

  test("YAML scrub -> quality: the scrub runs once per scan, the gate adds no join or exchange") {
    val in = scratch("plan-quality") + "/docs"
    Seq((1L, "mail bob@x.org " + ("the data " * 30)), (2L, "too short"))
      .toDF("doc_id", "text").write.parquet(in)
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  docs: {path: $in, format: parquet}
         |recipes:
         |  q:
         |    input: docs
         |    steps:
         |      - scrub: {select: [text]}
         |      - quality: {id: doc_id, text: text, min_words: 30}
         |""".stripMargin)
    val p = graft.conf.RecipeConf.run(spark, conf, "q")
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllMatchIn(p).size
    val scrubs = java.util.regex.Pattern.quote(graft.text.Curation.emailPattern)
      .r.findAllMatchIn(p).size
    assert(scans == 1, s"the corpus must be scanned once:\n$p")
    assert(scrubs == scans, s"the scrub's email regex appears $scrubs times:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"the quality gate must stay a row-local filter:\n$p")
  }

  test("fuzzy match join expands over the vocabulary, not the postings") {
    // the delete-variant meet runs over the two token vocabularies; no
    // Generate explodes variants next to a row id, the (lid, tok) dedup
    // needs no (lid, tok, rid) exchange, and ONE __lid exchange feeds the
    // score sum and both top-K windows
    val left = Seq((1L, Seq("martin", "dubois")), (2L, Seq("martn", "lea")),
      (2L, Seq("martn", "lea"))).toDF("lid", "toks")
    val right = Seq((10L, Seq("martin", "lea")), (11L, Seq("duboi", "x")),
      (11L, Seq("marti"))).toDF("rid", "toks")
    for (scoring <- Seq("idf", "bm25")) {
      val p = MatchJoin.topK(left, right, "toks", "toks", "lid", "rid",
        k = 3, fuzzy = true, scoring = scoring).queryExecution.executedPlan.toString
      val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
        .map(_.split(",\\s*").toSeq.dropRight(1)
          .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      assert(!fams.contains("__lid,__rid,__tok"),
        s"$scoring: the candidate triples re-shuffle for their dedup:\n$p")
      assert(fams.count(_ == "__lid") == 1,
        s"$scoring: expected one __lid exchange, got ${fams.count(_ == "__lid")}:\n$p")
      val variantGens = p.linesIterator
        .filter(l => l.contains("Generate") && l.contains("__v")).toSeq
      assert(variantGens.nonEmpty, s"$scoring: no variant expansion at all:\n$p")
      assert(variantGens.forall(g => !g.contains("__rid") && !g.contains("__lid")),
        s"$scoring: delete-variants exploded over rows, not the vocabulary:\n" +
          variantGens.mkString("\n"))
    }
  }

  test("minhashDedup keeps one representative per near-dup cluster") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val df = Seq(
      (1L, base),
      (2L, base.replace("today", "tonight")),
      (3L, "completely different text about catalyst plans and shuffles here now"))
      .toDF("doc_id", "text")
    val kept = Dedup.minhashDedup(df, "doc_id", "text", threshold = 0.5)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }
}
