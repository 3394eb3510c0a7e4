package graft

import org.apache.spark.sql.functions._

/** Scale-posture assertions on the physical plans themselves — the things
  * that decide whether an operator survives 100 TB: no cartesian products
  * anywhere, dims broadcast, filters/projections pushed into the parquet
  * scan, whole-stage codegen covering the hot paths.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** AQE prints the final plan (broadcasts, codegen spans) only after the
    * query has run — execute, then inspect.
    */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("no query plan contains a cartesian product or RDD scan") {
    // mm_binary_pipeline runs its codec through mapPartitions,
    // dba_csv_import parses an in-memory line dataset, dedup_minhash
    // checkpoints its final label table (lineage cut so the iteration
    // caches can be released), dba_compaction_plan checkpoints its
    // range partitioning so per-partition offsets can't drift between
    // executions, and the simhash near-dup family checkpoints its pruned
    // block table (released by the ContextCleaner instead of pinning an
    // InMemoryRelation) — each scans a local collection by design;
    // everything else must stay declarative.
    // ... dedup_ngram_jaccard checkpoints its shared posting list and
    // ann_recall its brute-force/candidate sets (operator-owned release
    // via the ContextCleaner instead of a pinned persist)
    val exempt = Set("mm_binary_pipeline", "dba_csv_import", "dedup_minhash",
      "dba_compaction_plan", "dedup_simhash_nn", "pipeline_curate_neardup",
      "dedup_incremental", "dedup_ngram_jaccard", "ann_recall",
      "dedup_containment", // checkpointed posting list (the C4 kernel)
      "dedup_span_cross", // checkpointed fingerprint posting list
      "dedup_embedding_cc", // checkpointed pair edges + label rounds
      "dedup_embedding_cc_exact",
      "dedup_embedding_cc_dense", // same kernel, denser buckets
      "mm_image_dedup",   // codec mapPartitions + checkpointed block table
      "mm_audio_dedup",   // same: javax.sound decode runs in mapPartitions
      "mm_video_dedup",   // same: AVI parse + frame dHash in mapPartitions
      "mm_video_frames",  // same codec rung, per-sampled-frame features
      "text_topk_sketch", // per-partition Misra-Gries pass is imperative
      "dedup_semantic_cc", // checkpointed label-propagation rounds
      "dedup_semantic",    // r21: checkpointed cell assignment — the
                           // n×cells argmax runs once, not per consumer
      "dedup_semantic_dense", // same kernel, broadcast-join argmax path
      "ds_grouping",   // r20: checkpointed (year, category) base — ONE
                       // fact star-join pass instead of three subtrees
      "text_tfidf",    // r20: checkpointed tf — one tokenize pass feeds
                       // tf, df and the vocab-estimate gate
      "dba_table_stats_approx") // checkpointed register/histogram tables
                                // (r18 portable-HLL kernel, ≤4·4097 rows)
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      if (!exempt(name))
        assert(!p.contains("ExistingRDD"), s"$name drops to an RDD scan")
    }
  }

  test("tight filters reach the parquet scan (pushdown)") {
    assert(plan("q6_revenue_delta").contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(plan("q1_pricing_summary").contains("PushedFilters: [IsNotNull(l_shipdate)"))
    val semi = plan("q_semi_join")
    assert(semi.contains("PushedFilters: [IsNotNull(o_orderdate)"))
  }

  test("star-schema queries: both dimensions broadcast below the fact " +
    "(the canonical star-join plan — no fact-sized shuffle before the " +
    "aggregate)") {
    val p = executedPlan("ds_q3_brand_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 2,
      s"date_dim and item must broadcast (got $broadcasts):\n$p")
    assert(!p.contains("CartesianProduct"))
    // ds_grouping checkpoints its (year, category) base since r20, so
    // the star join lives inside a LogicalRDD in the full plan — pin the
    // join shape on the exposed base, and pin on the full plan that the
    // fact never re-enters above the checkpoint (one fact pass total)
    val gb = {
      val df = operators.StarSchema.dsGroupingBase(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert("BroadcastHashJoin".r.findAllIn(gb).size >= 2,
      "the rollup's star join must broadcast its dims too")
    val g = executedPlan("ds_grouping")
    assert(!g.contains("lineitem.parquet"),
      "dsGrouping must not re-scan the fact above its checkpointed base")
    // partial re-aggregation: Expand never appears above the fact —
    // the rollup shape is reconstructed from the tiny aggregated base
    assert(!g.contains("Expand") && !gb.contains("Expand"),
      "dsGrouping must re-aggregate, not Expand the fact")
    // channel union: the channel is a COLUMN of the one derived fact,
    // so the plan must hold exactly ONE fact subtree (one lineitem
    // scan) and no Union of channel-filtered legs — a second leg is a
    // full extra fact scan at any scale
    // AQE's toString repeats every scan in its "== Initial Plan =="
    // echo — count within the final plan only
    val cu = executedPlan("ds_channel_union").split("== Initial Plan ==")(0)
    val factScans = "lineitem\\.parquet".r.findAllIn(cu).size
    assert(factScans == 1,
      s"ds_channel_union must scan the fact once (got $factScans):\n$cu")
    assert(!cu.contains("Union"),
      "ds_channel_union must aggregate by channel, not union legs")
  }

  test("q_dedup_latest_agg: the keep-latest twin is a partial-combining " +
    "aggregate — no window; the shuffle carries at most one candidate " +
    "per key per map task (the scale difference vs the A6 witness)") {
    val p = executedPlan("q_dedup_latest_agg").split("== Initial Plan ==")(0)
    assert(!p.contains("Window"),
      s"A6b must aggregate, not window:\n$p")
    // struct buffers aren't hash-aggregable, so Spark plans
    // SortAggregate — the partial+final pair is what matters: the
    // map-side combine bounds the exchange at one row per (key × task)
    assert("(Hash|Sort|ObjectHash)Aggregate".r.findAllIn(p).size >= 2,
      s"A6b needs partial+final aggregates (map-side combine):\n$p")
    // the A6 witness stays the literal window idiom
    val w = executedPlan("q_dedup_latest")
    assert(w.contains("Window"), "A6 is the row_number fidelity witness")
  }

  test("q19: the hand-derived part-side disjunction projection reaches the scan") {
    // Catalyst can't push the mixed-side OR-of-ANDs itself; the operator
    // derives the part-only implication by hand — it must show up in the
    // part scan's PushedFilters, pruning the broadcast build side
    // (plan toString truncates long PushedFilters lists, so match prefixes)
    val p = plan("q19_disjunctive")
    assert(p.contains("In(p_brand, [Brand#12,Brand#23,Brand#3])"),
      "derived part-side brand filter missing from the part scan")
    // Catalyst's own per-side projection of the OR lands on the fact scan
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      "derived lineitem-side quantity disjunction missing from the fact scan")
  }

  test("q15/q22: scalar-subquery aggregates broadcast, never cartesian") {
    // the 1-row max/avg joins back as a broadcast (hash for the equality,
    // nested-loop for the range compare) — fixed cost at any corpus size
    val q15 = executedPlan("q15_top_supplier")
    assert(q15.contains("BroadcastHashJoin"))
    // the `rev` aggregate feeds BOTH the max side and the probe side; the
    // equality join relies on bit-identical sums from byte-identical
    // branches, so the shuffle must be planned ONCE and reused — an
    // optimizer change that re-plans it would double the lineitem scan
    // and (worse) allow the two sums to diverge in evaluation order
    assert(q15.contains("ReusedExchange") || q15.contains("ReusedQueryStage") ||
      q15.contains("reuses"),
      "q15 lost exchange reuse between the rev aggregate's two consumers")
    val q22 = executedPlan("q22_idle_customers")
    assert(q22.contains("BroadcastNestedLoopJoin"))
    assert(!q22.contains("CartesianProduct"))
  }

  test("scans prune to the referenced columns only") {
    val p = plan("q6_revenue_delta")
    // lineitem is 16 columns; q6 needs exactly these four, plus (on the
    // degenerate single-row-group local layout only) l_orderkey — the
    // deterministic fan-out key Tables.fanOut hashes on since r20. On
    // production layouts the fan-out is the identity and the key column
    // is not read; locally it is one delta-encoded int64 the probe
    // measured as a net win over the round-robin's sort.
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_shipdate") && read.contains("l_discount") &&
      read.contains("l_quantity") && read.contains("l_extendedprice"))
    assert(!read.contains("l_comment") && !read.contains("l_partkey") &&
      !read.contains("l_suppkey") && !read.contains("l_tax"))
  }

  test("mm_video_frames: codec stage fans out over an ids-only scan — " +
    "the decade-canary's adjudicated shape") {
    // the r19 adjudication (Multimodal.mmVideoFrames scaladoc): the wall
    // is per-video codec work, and the plan must keep it (a) parallel —
    // the fan-out exchange below the MapPartitions (losing it serializes
    // every decode on one core: the r16 text_pii_scrub 1.1 → 4.7 s
    // class; since r21 the exchange hashes on doc_id — the r21
    // exchange A/B measured the heavy per-row shape as a wash vs
    // round-robin's exact balance, and the key makes the same exchange
    // reusable by the text family's (doc_id, …) aggregations) — and
    // (b) fed by a doc_id-only scan with the %3 filter below the
    // exchange (shuffling text bytes for a codec stage that synthesizes
    // its own payloads would be pure waste)
    val df = SparkEntry.queries("mm_video_frames")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(doc_id"),
      "codec mapPartitions must sit above the doc_id-keyed fan-out exchange")
    assert(!p.contains("RoundRobinPartitioning"),
      "the fan-out must be the keyed exchange, not a round-robin + sort")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && !read.contains("text"),
      s"scan must read ids only: $read")
  }

  test("dimension joins broadcast; fact-fact joins shuffle on keys") {
    assert(executedPlan("q3_shipping_priority").contains("BroadcastHashJoin"))
    assert(executedPlan("q5_local_supplier").contains("BroadcastHashJoin"))
    assert(executedPlan("dba_pricing_cost").contains("BroadcastHashJoin"))
    // non-equi ("everything but self") join against 8 broadcast query rows
    assert(executedPlan("ann_bruteforce").contains("BroadcastNestedLoopJoin"))
    // the benchmark n-gram set must broadcast — shuffling the corpus side
    // for the membership probe is the 100 TB failure mode
    assert(executedPlan("contam_check").contains("BroadcastHashJoin"))
    // the merge-upsert key shuffle must be a single hash partitioning
    assert(plan("dba_merge_upsert").contains("hashpartitioning(o_orderkey"))
    // q17: BOTH joins against the fact must broadcast — the part slice by
    // hint, and the per-qualifying-part average (bounded ~1/300 of part)
    // by explicit hint, so no stats misestimate can ever plan the avg
    // re-join as a full shuffle of the filtered lineitem
    val q17 = executedPlan("q17_small_qty_revenue")
    assert("BroadcastHashJoin".r.findAllIn(q17).size >= 2,
      "q17 must broadcast both the part slice and the avg-qty side")
    assert(!q17.contains("SortMergeJoin"),
      "q17 planned a shuffle join — the avg-qty broadcast hint is lost")
    // the keyless range join must hash on grid cells, never fall back to
    // the nested-loop plan the raw inequality condition would get
    val rj = executedPlan("q_range_join")
    assert(rj.contains("BroadcastHashJoin"),
      "range join must probe the binned window side as a hash join")
    assert(!rj.contains("BroadcastNestedLoopJoin") &&
      !rj.contains("SortMergeJoin"),
      "range join fell back to a non-equi plan — the cell key is lost")
    // and the fact scan must read ONLY the probe column — at 100 TB a
    // one-column projection that drags the full lineitem width is a
    // 10x-I/O bug the result can't reveal. Assert the schema EXACTLY
    // (struct<l_shipdate:...> and nothing else): a blacklist of two named
    // columns would still pass if the scan widened with any of the other
    // fourteen
    val liScan = rj.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("l_shipdate"))
      .mkString
    val readStruct = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(liScan).map(_.group(1)).getOrElse("")
    val readCols = readStruct.split(",").map(_.trim.takeWhile(_ != ':'))
      .filter(_.nonEmpty).toSet
    // l_orderkey is the r20 deterministic fan-out key (read only on the
    // degenerate single-row-group local layout; identity at scale) —
    // any OTHER column widening the scan is still the 10x-I/O bug
    assert(readCols == Set("l_shipdate") ||
        readCols == Set("l_shipdate", "l_orderkey"),
      s"range join's lineitem scan reads ${readCols.mkString(", ")} — " +
        "expected exactly l_shipdate (+ the fan-out key)")
  }

  test("grouping sets re-aggregate in one scan; projection ops prune the scan") {
    // the re-aggregation pattern (qRollup/dsGrouping): the fact is read
    // once into a plain cross-aggregate and Expand never touches it —
    // the Expand form's per-row multiplication ran at scan parallelism
    // and reproduced a ~4x decade min-ratio isolated (r16 final cycle)
    val gs = executedPlan("q_grouping_sets").split("== Initial Plan ==")(0)
    assert(!gs.contains("Expand"),
      "grouping sets must re-aggregate, not Expand the fact")
    // both union legs re-aggregate the SAME base cross-aggregate — at
    // runtime AQE collapses the second leg onto the first's exchange
    assert("orders\\.parquet".r.findAllIn(gs).size == 1,
      "grouping sets must read the fact exactly once (exchange reuse)")
    // pii scrub is a pure projection: the scan reads only the two columns
    val pii = plan("text_pii_scrub")
    val read = pii.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("n_chars") && !read.contains("source"))
  }

  test("curate scores each document exactly once (no interpreted re-splits)") {
    val p = plan("pipeline_curate")
    // the language gate must ride ONE materialized tokenprofilecounts
    // array — no split()/filter() HOF pipeline, no per-gate re-scoring
    assert(!p.contains("split("), "curate plan re-tokenizes text")
    assert(!p.contains("lambdafunction"), "curate plan evaluates interpreted HOF lambdas")
    val scores = "tokenprofilecounts".r.findAllIn(p.toLowerCase).size
    assert(scores == 1, s"curate plan evaluates the score pass $scores times, want 1")
    // same property for the standalone langid query
    val l = plan("text_langid")
    assert(!l.contains("split(") && !l.contains("lambdafunction"),
      "langid plan re-tokenizes text")
    assert("tokenprofilecounts".r.findAllIn(l.toLowerCase).size == 1,
      "langid must score each document exactly once")
  }

  test("rank-filter queries keep the map-side WindowGroupLimit") {
    // rn <= k over a window triggers Spark's partial WindowGroupLimit:
    // each map task emits at most k rows per key BEFORE the window
    // exchange — the property that keeps top-k/latest-per-key shuffles
    // ∝ keys × tasks instead of ∝ rows. Pin it so a formulation change
    // (e.g. rank via join, or a non-rank filter) can't silently drop it.
    Seq("q_dedup_latest", "q_topk_per_group",
        "corpus_stratified", "corpus_stratified_gated",
        "doc_domain_cap").foreach { n =>
      val p = plan(n)
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"$n lost the partial window group limit")
    }
  }

  test("JSON queries parse distinct payloads above a combine; merges never " +
    "globally sort") {
    // B11/A15: the eval-only parse must ride ABOVE a map-side-combined
    // (event_type, props) aggregate — its exchange keys on the pair — and
    // the old fan-out round-robin must stay gone (the pre-aggregate IS
    // the parallelism now)
    Seq("dba_json_ingest", "q_json_flatten").foreach { n =>
      val p = plan(n)
      assert(p.contains("hashpartitioning(event_type") &&
        p.contains("props"),
        s"$n lost the distinct-payload pre-aggregate")
      assert(!p.contains("RoundRobinPartitioning"),
        s"$n regrew the fan-out shuffle the pre-aggregate replaced")
    }
    // B2/B2b: a MERGE result is a table — a data-sized global sort costs
    // a range-sampling pass that re-executes the whole merge
    Seq("dba_merge_upsert", "dba_merge_skew").foreach { n =>
      val p = plan(n).toLowerCase
      assert(!p.contains("rangepartitioning"),
        s"$n regrew the data-sized presentation sort")
    }
  }

  test("stream_enrich broadcasts both dims; stream_dedup combines map-side") {
    // D9: the fact must never shuffle for a dimension join — both dims
    // ride broadcasts and the only exchange is the final tiny aggregate
    // AQE's toString prints the final AND initial plans — count per section
    val e = executedPlan("stream_enrich")
    assert("BroadcastHashJoin".r.findAllIn(e).size >= 2,
      "stream_enrich must broadcast customer AND nation")
    assert(!e.contains("SortMergeJoin"),
      "stream_enrich shuffled the fact for a dim join")
    // D8: keep-first as a struct-min aggregate only pays off if the map
    // side combines — shuffle ∝ keys × tasks, not events
    val d = plan("stream_dedup")
    assert(d.toLowerCase.contains("partial_min"),
      "stream_dedup lost the map-side partial aggregate")
  }

  test("embedding-cluster hot-bucket cap prunes via broadcast, never a window") {
    // the cap sits behind a localCheckpoint inside the registered query,
    // so pin the kernel itself: bucket sizes from a (bucket)-only
    // map-combined aggregate, broadcast back as the filter — a window
    // count would shuffle every rep WITH its float[] embedding
    val bucketed = Tables.embeddings(spark, sf)
      .withColumn("bucket", ann.Ann.hyperplaneBucket(col("embedding"), 4))
    val pruned = dedup.Dedup.pruneHotBuckets(bucketed, 64)
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "bucket cap lost its broadcast")
    assert(!p.contains("Window"), "bucket cap regressed to a window count")
    assert(p.contains("partial_count"), "bucket counts lost map-side combine")
  }

  test("whole-stage codegen covers the aggregation hot paths") {
    // AQE's final-plan rendering marks codegen'd stages with a "*(n)" prefix
    Seq("q1_pricing_summary", "dedup_minhash", "text_quality").foreach { n =>
      assert(executedPlan(n).contains("*("), s"$n fell out of codegen")
    }
  }

  test("data-sized outputs carry NO global sort (the B2 lesson, pinned): " +
    "a presentation orderBy on a table-shaped result costs a " +
    "range-sampling pass that re-executes the plan plus a full " +
    "exchange+sort — the r17 sweep removed ~40 of them; this keeps them " +
    "out") {
    // every registered query whose output is data-proportional (per-doc /
    // per-vec / per-user / per-order rows — a TABLE, not a report).
    // Window sorts print as `Sort [...], false, 0` and are fine; a global
    // sort prints `Sort [...], true, 0` behind an Exchange rangepartitioning.
    val dataSized = Seq(
      "q_dedup_latest", "q_dedup_latest_agg", "q_semi_join", "q_anti_join",
      "q_pivot", "q_window_running", "q_asof_join", "q_asof_skew",
      "q_above_avg", "q_setops",
      "dba_merge_upsert", "dba_merge_skew", "dba_scd2_history",
      "dba_scd2_skew", "dba_schema_align", "dba_zorder_key",
      "dba_pricing_cost", "dba_merge_selective", "dba_merge_clauses",
      "dba_delta_changes", "dba_iceberg_changes_rows",
      "stream_sessionize", "stream_interval_join", "stream_dedup",
      "corpus_split", "corpus_mix", "seq_pack", "seq_pack_sharded",
      "corpus_build", "corpus_build_shuffled", "corpus_stratified",
      "corpus_stratified_gated", "corpus_shuffle", "doc_chunk",
      "pipeline_curate", "pipeline_curate_neardup", "contam_check",
      "quality_budget",
      "dedup_exact", "dedup_simhash", "dedup_simhash_nn",
      "dedup_ngram_jaccard", "dedup_containment", "dedup_embedding",
      "dedup_bloom",
      "text_quality", "text_tokens", "text_langid", "text_fingerprint",
      "text_pii_scrub", "text_repetition", "text_tfidf", "text_dup_span",
      "text_ngram_novelty", "text_lm_score", "corpus_ccnet_buckets",
      "text_tokens_bpe", "seq_pack_bpe", "quality_budget_bpe",
      "emb_quantize", "mm_binary_pipeline", "mm_video_frames")
    dataSized.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n not registered")
      val p = plan(n)
      val globalSorts = p.linesIterator
        .filter(l => l.contains("Sort [") && l.contains("], true, 0"))
        .toSeq
      assert(globalSorts.isEmpty,
        s"$n (data-sized output) carries a global sort:\n" +
          globalSorts.mkString("\n"))
    }
  }
}
