package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Plan audits: the physical plans the engine relies on at scale must
  * actually materialize — predicate pushdown to the parquet scan, column
  * pruning, broadcast joins for dims, and two-phase (partial/final)
  * aggregation. These assertions pin the plan shape so a regression in
  * an operator's construction shows up as a test failure, not as a 100×
  * slowdown at warehouse scale. */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("point lookup pushes the key predicate into the parquet scan") {
    val p = plan("i5_url_detail")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,4242)]"))
  }

  test("scans prune to the referenced columns only") {
    val p = plan("q1_agg")
    // only the 5 referenced lineitem columns reach the reader
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double"))
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_tax", "l_shipdate").foreach(c =>
      assert(!p.contains(c), s"column $c not pruned from scan"))
  }

  test("dimension joins broadcast the small side") {
    val p = plan("j1_multihop_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("aggregation runs partial then final (map-side combine)") {
    val p = plan("q1_agg")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got:\n$p")
  }

  test("regex scan evaluates at the scan, before any shuffle") {
    val p = plan("f1_rlike_scan")
    // the RLIKE predicate is a data filter on the file scan itself
    assert(p.contains("DataFilters: [isnotnull(p_type"))
    assert(p.contains("RLIKE(p_type"))
    assert(p.contains("PushedFilters: [IsNotNull(p_type)]"))
  }

  test("crawldb fold and inverse link DB aggregate without an Expand") {
    // truncation flags derive from the collected set; a count_distinct
    // alongside the collect_set would re-introduce an Expand (×2 row
    // duplication through the aggregate)
    assert(!plan("c1_crawldb_merge").contains("Expand"))
    assert(!plan("g3_inverse_linkdb").contains("Expand"))
  }

  test("top-k heap aggregates partial→final with no window sort") {
    val p = plan("w5_topk_heap")
    // bounded-heap top-k must run as a two-phase object aggregate —
    // map-side combine ships ≤k rows per group into the shuffle…
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate, got:\n$p")
    // …and never as a window, which would shuffle and sort whole groups
    assert(!p.contains("Window"), s"w5 fell back to a window sort:\n$p")
  }

  test("cu13 mix selection never window-sorts a whole source") {
    val p = plan("cu13_temperature_mix")
    // every row_number window must be bucket-partitioned (source, b):
    // a source-only partition shuffles a whole source to one task and
    // sorts it there — the single-task-sort cost model TopK's scaladoc
    // warns about. The bucket column immediately follows source in the
    // PARTITION list (a trailing comma separates it from the ORDER BY
    // keys; the offs prefix-sum window instead ORDERS by b — "b#N ASC" —
    // and aggregates ≤256 rows per source, which is fine).
    val specs = """row_number\(\) windowspecdefinition\(([^)]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no row_number window found in:\n$p")
    specs.foreach { s =>
      assert("""source#\d+, b#\d+,""".r.findFirstIn(s).isDefined,
        s"row_number window not bucket-partitioned: $s\n$p")
    }
  }

  test("t9 n-gram head runs as a bounded heap, not a per-n window") {
    val p = plan("t9_ngram_counts")
    // a Window.partitionBy(n) head would sort every pruned gram of an n
    // on ONE task; the heap aggregate ships ≤ top-k rows per n per mapper
    assert(!p.contains("Window"), s"t9 fell back to a window sort:\n$p")
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate, got:\n$p")
  }

  test("two-phase exact distinct carries no Expand and pre-aggregates both phases") {
    val p = plan("cu4_twophase_distinct")
    // the whole point of the rewrite: no count_distinct Expand, and each
    // of the two groupBys runs partial→final (4 HashAggregates total)
    assert(!p.contains("Expand"), s"cu4 re-introduced an Expand:\n$p")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 4, s"expected 2×(partial+final) HashAggregate, got:\n$p")
  }

  test("curation split scan prunes to the three referenced columns") {
    val p = plan("cu1_det_split")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
      s"cu1 read more than (doc_id, lang, n_chars):\n$p")
  }

  test("multimodal feature extraction stays inside whole-stage codegen") {
    // execute to finalize the adaptive plan — codegen spans only appear
    // in the materialized plan
    val df = Registry.queries("m3_media_features")(spark, sfDir)
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    // the histogram is pure column expressions — no UDF/RDD boundary may
    // appear between the scan and the sort ("*(n)" is the codegen-span
    // marker in the compact plan string)
    assert(p.contains("*("), s"no whole-stage-codegen span in:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("MapPartitions"),
      s"m3 dropped out of codegen:\n$p")
  }

  test("curation-pipeline dedupe is an arg-min aggregate, not a window sort") {
    val p = plan("cu6_curation_pipeline")
    assert(!p.contains("Window"), s"cu6 dedupe fell back to a window sort:\n$p")
    // partial+final min_by: the shuffle carries (hash, doc_id, n_chars)
    // pre-combined rows, never the document text
    // min_by(struct) runs as an Object/Sort aggregate; the shard rollup as
    // a HashAggregate — both must still be partial+final pairs
    val aggs = "(HashAggregate|ObjectHashAggregate|SortAggregate)".r.findAllIn(p).size
    assert(aggs >= 4, s"expected two partial+final aggregate pairs, got:\n$p")
    // the dedupe shuffle is keyed by the content hash (pre-combined rows),
    // not by anything carrying the document text
    assert(p.contains("hashpartitioning(h#"), s"dedupe shuffle not keyed on the hash:\n$p")
  }

  test("PageRank loop invariants derive exchange-free from the pinned edge cache") {
    // Pins the mechanism PageRank.run's setup relies on: a table cached
    // pre-partitioned on the join key keeps its HashPartitioning visible
    // through InMemoryTableScan, so the out-degree aggregation and the
    // degree join add NO Exchange — the O(edges) table is shuffled exactly
    // once in the whole setup phase. (Structural check, not string match:
    // the cache's own repartition lives inside InMemoryRelation and must
    // not count.)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import session.implicits._
    val raw = Seq((1L, 10L, 2L, 20L), (2L, 20L, 3L, 30L), (1L, 10L, 3L, 30L))
      .toDF("src_domain", "src_root", "dst_domain", "dst_root")
    val edgesIn = raw.repartition(4, col("src_domain")).persist()
    edgesIn.count()
    try {
      val outdeg = edgesIn.groupBy("src_domain").agg(count(lit(1)).as("outdeg"))
      val e = edgesIn.join(outdeg, "src_domain")
      val exchanges = e.queryExecution.executedPlan.collect {
        case x: ShuffleExchangeExec => x
      }
      assert(exchanges.isEmpty,
        s"setup re-shuffled the cached edge table:\n${e.queryExecution.executedPlan}")
      assert(e.count() == 3)
    } finally edgesIn.unpersist()
  }

  test("a pinned state generation joins its key-pinned invariant exchange-free") {
    // Pins the mechanism PageRank/Ppr's loop relies on: a generation
    // pinned by Pins.state, derived from an invariant pinned on the join
    // key, keeps that HashPartitioning through InMemoryTableScan, so the
    // next round's join against the edge invariant moves no row.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import session.implicits._
    val pins = new graft.ops.Iterative.Pins(session)
    try {
      val e = pins.invariant(Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
        .toDF("src_domain", "dst_domain"), Some("src_domain"))
      val nodes = pins.invariant(Seq(1L, 2L, 3L).toDF("domain"), Some("domain"))
      val acc = e.join(nodes.withColumn("rank_u", lit(6L)),
          col("src_domain") === col("domain"))
        .groupBy("dst_domain").agg(sum("rank_u").as("acc"))
      val gen = pins.state(nodes.join(acc, col("domain") === col("dst_domain"), "left")
        .select(col("domain"), coalesce(col("acc"), lit(0L)).as("rank_u")))
      val step = e.join(gen, col("src_domain") === col("domain"))
      val plan = step.queryExecution.executedPlan
      assert(plan.collect { case x: ShuffleExchangeExec => x }.isEmpty,
        s"the state join re-shuffled a pinned side:\n$plan")
      assert(step.count() == 4)
    } finally pins.release()
  }

  test("incremental crawldb combine joins the half-merges exchange-free") {
    // r21 shape of c2: ONE hash exchange per half-merge (the rank
    // window's — the merged-record aggregate rides that partitioning
    // with no exchange of its own, and since the shuffle now precedes
    // the aggregate there is rightly no partial aggregation), the
    // full-outer SMJ riding both halves' partitioning exchange-free,
    // and one range partition for the final order — 3 exchanges total.
    // A fourth exchange means the aggregate or the combine stopped
    // reusing the window partitioning (e.g. a repartition snuck in, or
    // the join keys drifted from the grouping keys). The aggregate
    // itself must never regress to ObjectHashAggregate (the r20
    // codegen blocker this shape removed).
    val p = plan("c2_crawldb_incremental")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("FullOuter"))
    assert(!p.contains("ObjectHashAggregate"), "sample lists regressed to ObjectHashAggregate")
  }

  test("incremental dedupe never shuffles shingle arrays as keys") {
    // the band join keys are (band_idx, band_key) and the verify joins key
    // on doc ids; the ~300-element shingle arrays must only ever ride as
    // payload — an array shuffle KEY (hash + compare per row) would sink
    // the batch-probe pattern at corpus scale
    val p = plan("d7_incremental_dedupe")
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach { hp =>
      assert(!hp.contains("sh#") && !hp.contains("sh_n#") && !hp.contains("sh_c#"),
        s"d7: shingle array leaked into a shuffle key: $hp")
    }
  }

  test("MIPS keeps the max-norm scalar broadcast and vectors out of shuffle keys") {
    val p = plan("ss8_mips_topk")
    // the corpus-wide max squared norm joins in as a broadcast one-row
    // relation — re-shuffling the corpus against an O(1) scalar would be
    // plan damage
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"ss8: max-norm scalar not broadcast:\n$p")
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    partitionings.foreach { hp =>
      assert(!hp.contains(" v#") && !hp.contains("(v#") && !hp.contains("av#"),
        s"ss8: embedding vector leaked into a shuffle key: $hp")
    }
  }

  test("Gopher gates scan prunes to (doc_id, text)") {
    val p = plan("t8_gopher_gates")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t8 read more than (doc_id, text):\n$p")
  }

  test("dup-weight accounting shuffles on the content hash, never the text") {
    val p = plan("cu11_dup_weights")
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach { hp =>
      assert(!hp.contains("text#"),
        s"cu11: document text leaked into a shuffle key: $hp")
    }
    // both rollups run partial→final
    val aggs = "(HashAggregate|ObjectHashAggregate|SortAggregate)".r.findAllIn(p).size
    assert(aggs >= 4, s"expected two partial+final aggregate pairs, got:\n$p")
  }

  test("IVF cell assignment shuffles on vec_id alone, not the raw vector") {
    Seq("ss4_ivf_ann", "ss6_ivf_kmeans").foreach { name =>
      val p = plan(name)
      val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
      assert(partitionings.nonEmpty)
      partitionings.foreach { hp =>
        assert(!hp.contains(" v#") && !hp.contains(" qv#"),
          s"$name: embedding vector leaked into a shuffle key: $hp")
      }
    }
  }

  test("PQ-ADC: codebook and LUT broadcast; subvectors never key a shuffle") {
    val p = plan("ss10_pq_adc")
    // codebook joins (assignment) and the LUT scoring join must broadcast
    // the small side — the codes table is the corpus-scale object
    assert(p.contains("BroadcastHashJoin"),
      s"codebook/LUT must broadcast into the scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"scoring must not shuffle the corpus on the code key:\n$p")
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach { hp =>
      assert(!hp.contains(" sub#") && !hp.contains(" qv#") && !hp.contains(" cv#"),
        s"subvector array leaked into a shuffle key: $hp")
    }
  }

  test("substring dedupe: native anchor selection, no cartesian, equi postings join") {
    val p = plan("d8_substring_dupes")
    // the anchor table is checkpointed before this plan; the final plan
    // must be pure equi-join + two-phase aggregation over it
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"postings self-join degenerated to a cross product:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    // the anchor selection itself stays a single codegen'd expression
    val ap = org.apache.spark.sql.graftbridge.ColumnBridge.expression(
      graft.functions.NativeExpressions.anchorGrams(
        org.apache.spark.sql.functions.lit("abcdefghijklmnop"), 12, 0)).toString
    assert(ap.contains("anchor_grams"))
  }

  test("sketch rollups aggregate partial→final; states never key a shuffle") {
    // a13/a14: both aggregation levels (raw→per-slice sketch, slices→
    // merged report) must run as two-phase object aggregates — a mapper
    // ships O(capacity) sketch state into each shuffle, never raw rows —
    // and the sketch payload (hash arrays / hitter structs) must ride as
    // payload, not as a partitioning key
    Seq("a13_sketch_rollup", "a14_distinct_rollup", "a16_quantile_rollup").foreach { name =>
      val p = plan(name)
      val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
      assert(objAggs >= 4, s"$name: expected 2×(partial+final) ObjectHashAggregate:\n$p")
      "hashpartitioning\\([^)]*\\)".r.findAllIn(p).foreach { hp =>
        assert(!hp.contains("hh#") && !hp.contains("st#") && !hp.contains("merged#")
            && !hp.contains("qs#"),
          s"$name: sketch state leaked into a shuffle key: $hp")
      }
    }
    // a13's corpus total joins in as a broadcast one-row relation
    assert(plan("a13_sketch_rollup").contains("BroadcastNestedLoopJoin"),
      s"a13: one-row total not broadcast")
  }

  test("linear-classifier inference broadcasts the weight table") {
    val p = plan("t12_linear_classifier")
    // the per-feature weight lookup must be a BroadcastHashJoin — the
    // model dim is KBs while the exploded feature stream is corpus-sized;
    // a sort-merge join would shuffle every feature row on the bucket key
    assert(p.contains("BroadcastHashJoin"),
      s"weight lookup must broadcast the model table:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"feature stream must never shuffle on the weight key:\n$p")
    // per-doc score sum keeps map-side partial aggregation
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
  }

  test("per-host/per-group top-k selections run as bounded heaps, not window sorts") {
    // lg1/lg2/w1: hosts and segments are zipf-skewed; each selection must
    // be a partial→final ObjectHashAggregate (≤k rows per group per
    // mapper) with no WindowExec anywhere in the plan
    Seq("lg1_topk_per_host", "lg2_bundles", "w1_topk_per_group").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"), s"$name fell back to a window sort:\n$p")
      val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
      assert(objAggs >= 2, s"$name: expected partial+final ObjectHashAggregate:\n$p")
    }
    // w1's winner set joins back broadcast — the big side never reshuffles
    assert(plan("w1_topk_per_group").contains("BroadcastHashJoin"))
  }

  test("lg3 packs segments from capped counts; windows touch bundle rows only") {
    val p = plan("lg3_segments")
    // the per-host cap is least(count, K) — plain partial→final
    // HashAggregate, no heap, no per-host window; the only window left is
    // the per-bucket packing prefix sum over one-row-per-host bundles
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"lg3 lost partial agg:\n$p")
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no packing prefix-sum window in:\n$p")
    specs.foreach { w =>
      assert(!w.contains("o_orderkey#") && !w.contains("o_totalprice#"),
        s"lg3: raw order rows entered a window sort: $w\n$p")
    }
  }

  test("c4 per-root rank lists run as bounded heaps, not root windows") {
    val p = plan("c4_pipeline_rank_lists")
    // root domains are zipf-skewed; the final top-K per root must be a
    // partial→final ObjectHashAggregate, and no row_number window over
    // rank rows may remain
    assert(!"row_number\\(\\)".r.findFirstIn(p).isDefined,
      s"c4 fell back to a row_number window:\n$p")
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(objAggs >= 2, s"c4: expected partial+final ObjectHashAggregate:\n$p")
  }

  test("cu7 packs sequences two-phase; every data window is bucket-partitioned") {
    val p = plan("cu7_sequence_packing")
    // the running token sum must be partitioned by (shard, md5-bucket) —
    // a shard-only window puts corpus/16 rows on one task; the offs
    // prefix sum windows over ≤256 bucket totals per shard instead
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no window found in:\n$p")
    val dataWindows = specs.filter(_.contains("doc_id#"))
    assert(dataWindows.nonEmpty, s"no per-row running-sum window in:\n$p")
    dataWindows.foreach { w =>
      assert("""shard_id#\d+L?, b#\d+,""".r.findFirstIn(w).isDefined,
        s"cu7: data window not (shard, bucket)-partitioned: $w\n$p")
    }
    // bucket offsets join in broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"cu7: 256-row offset table must broadcast:\n$p")
  }

  test("cu9 document frequency is a two-phase aggregate, never a token window") {
    val p = plan("cu9_tfidf")
    // a count().over(partitionBy(token)) buffers a token's whole posting
    // list on one task — a stop-token partition is O(corpus). The df must
    // come from a partial→final groupBy + equi-join; the only window left
    // is the per-doc rank (bounded by per-document vocabulary).
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no window found in:\n$p")
    specs.foreach { w =>
      // the PARTITION key is the leading element of the spec (ORDER BY
      // keys follow, where token is the legitimate tie-break)
      assert(w.trim.startsWith("doc_id#"),
        s"cu9: window not partitioned by doc_id: $w\n$p")
    }
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"cu9: tf and df must both aggregate partial→final:\n$p")
  }

  test("cu2 deciles derive from value-group counts, never a per-lang ntile sort") {
    val p = plan("cu2_length_deciles")
    assert(!p.contains("ntile("),
      s"cu2 fell back to a per-language ntile sort:\n$p")
    // the only window is the prefix sum over (lang, n_chars) group SIZES
    // — its spec must order by n_chars over aggregated rows and no raw
    // per-document column (doc_id/text) may appear in any window spec
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no prefix-sum window found in:\n$p")
    specs.foreach { w =>
      assert(!w.contains("doc_id#") && !w.contains("text#"),
        s"cu2: per-row column in a window spec (data-sized sort): $w\n$p")
    }
    // value-group count and final rollup each run partial→final
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"cu2: expected 2×(partial+final) HashAggregate:\n$p")
  }

  test("epoch shuffle: bucket offsets broadcast; no data-sized global window") {
    val p = plan("cu12_epoch_shuffle")
    assert(p.contains("BroadcastHashJoin"),
      s"256-row offset table must broadcast, not shuffle-join:\n$p")
    // the data-sized row_number window is PARTITIONED by the hex bucket;
    // the only single-partition exchange feeds the 256-row prefix sum
    assert("row_number\\(\\) windowspecdefinition\\(b#\\d+, sk#".r
      .findFirstIn(p).isDefined,
      s"row_number window lost its bucket partitioning:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"expected exactly the bucket-size prefix sum on one partition:\n$p")
  }

  test("d10 chunk dedupe: no window; chunk counts partial→final") {
    val p = plan("d10_chunk_dedupe")
    // a hot boilerplate chunk must be map-side combined, never
    // window-partitioned (that would buffer its whole posting on one task)
    assert(!p.contains("Window"), s"d10 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate for chunk counts:\n$p")
  }

  test("a18 profiler branches scan exactly one column each") {
    val p = plan("a18_table_profile")
    // per-branch column pruning is the whole point of the union shape:
    // six branches read six disjoint single-column projections
    Seq("event_id:bigint", "event_type:string", "props:string",
      "user_id:bigint", "value:double").foreach { c =>
      assert(p.contains(s"ReadSchema: struct<$c>"),
        s"branch for $c not single-column pruned:\n$p")
    }
    assert(p.contains("ReadSchema: struct<ts:"), s"ts branch missing:\n$p")
  }

  test("g11 co-citation caps fanout through the heap, never a window") {
    // planOnly: keep the materialization seam transparent so the capped
    // sub-plan (heap aggregate) stays visible in the inspected plan
    val p = graft.ops.Iterative.planOnly(plan("g11_cocitation"))
    // the per-source neighbor cap must run as the bounded TopK aggregate
    // (≤20 rows per source leave each mapper); a row_number window would
    // sort a zipf hub's whole posting on one task
    assert(!p.contains("Window"), s"g11 fell back to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate for the cap:\n$p")
  }

  test("cu15 partial-epoch cumsum is bucket-partitioned, never per-source") {
    val p = plan("cu15_token_budget")
    // the per-doc running char sum must window over (source, md5-bucket):
    // a source-only partition sorts a whole (possibly dominant) source on
    // one task. The data window is the one ordering by the md5 sort key.
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val dataWindows = specs.filter(_.contains("sk#"))
    assert(dataWindows.nonEmpty, s"no md5-ordered cumsum window in:\n$p")
    dataWindows.foreach { w =>
      assert("""source#\d+, b#\d+,""".r.findFirstIn(w).isDefined,
        s"cu15: data window not (source, bucket)-partitioned: $w\n$p")
    }
  }

  test("lg6 slot ranks window over (host, bucket); no whole-host sort") {
    val p = plan("lg6_politeness_schedule")
    val specs = """row_number\(\) windowspecdefinition\(([^)]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no row_number window found in:\n$p")
    specs.foreach { s =>
      assert("""host#\d+L?, b#\d+,""".r.findFirstIn(s).isDefined,
        s"lg6: slot window not bucket-partitioned: $s\n$p")
    }
  }

  test("ss12 shortlists through the heap; vectors never key a shuffle") {
    val p = plan("ss12_truncated_rerank")
    // the coarse cut must be the bounded TopK aggregate (≤shortlist rows
    // per probe per mapper), not a corpus-wide per-probe window sort
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate for the shortlist:\n$p")
    // the only window is the rerank over ≤shortlist rows per probe
    val specs = """row_number\(\) windowspecdefinition\(([^)]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    specs.foreach(s => assert(s.contains("probe_id#"),
      s"ss12: unexpected window partitioning: $s"))
    // full vectors ride as payload only — never in a shuffle key
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    partitionings.foreach(hp => assert(!hp.contains("v#") && !hp.contains("pv#") && !hp.contains("nv#"),
      s"ss12: embedding vector leaked into a shuffle key: $hp"))
  }

  test("ss15 binary ANN: heap shortlist, packed-bit coarse, no vector keys") {
    val p = plan("ss15_binary_rerank")
    // the Hamming cut must be the bounded TopK aggregate, not a
    // corpus-wide per-probe window sort
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate for the shortlist:\n$p")
    val specs = """row_number\(\) windowspecdefinition\(([^)]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    specs.foreach(s => assert(s.contains("probe_id#"),
      s"ss15: unexpected window partitioning: $s"))
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    partitionings.foreach(hp => assert(!hp.contains("v#") && !hp.contains("pv#") && !hp.contains("nv#"),
      s"ss15: embedding vector leaked into a shuffle key: $hp"))
  }

  test("ss13 coarse scan prunes the tail column from the parquet read") {
    val p = plan("ss13_columnar_coarse")
    // the point of the split layout: the corpus-wide coarse pass must
    // read (vec_id, head) ONLY — a ReadSchema carrying `tail` means the
    // 8× scan-bandwidth win silently evaporated
    val coarseScans = "ReadSchema: struct<vec_id:bigint,head".r.findAllIn(p).size
    assert(coarseScans >= 1, s"no head-only pruned scan found:\n$p")
    // the rerank fetch legitimately reads all three columns; but the
    // coarse side must not
    val schemas = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
    assert(schemas.exists(s => s.contains("head") && !s.contains("tail")),
      s"every scan reads tail — pruning lost:\n${schemas.mkString("\n")}")
    // shortlist via the bounded heap; the only window is the
    // ≤shortlist-row rerank
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate shortlist:\n$p")
  }

  test("cu16 importance weights broadcast the 256-row weight table") {
    val p = plan("cu16_importance_weights")
    // the weight table is model-sized: a shuffle join here would
    // re-shuffle the whole exploded token stream on the feature key
    assert(p.contains("BroadcastHashJoin"), s"weight join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream shuffled for the weight join:\n$p")
    assert(!p.contains("Window"), s"unexpected window in cu16:\n$p")
    // the per-doc score agg combines map-side (doc_id is unique — the
    // skew-free final shuffle)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("i11 phrase search prunes postings by broadcast before any shuffle join") {
    val p = plan("i11_phrase_search")
    // both the w1-postings selection and the w2 semi-join prune must be
    // broadcasts of the 5-phrase table — the full postings relation
    // must never shuffle on behalf of a 5-word query
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected two broadcast prunes (w1 join, w2 semi):\n$p")
    assert(!p.contains("CartesianProduct"), s"phrase join degenerated:\n$p")
    assert(!p.contains("Window"), s"unexpected window in i11:\n$p")
  }

  test("i12 BM25 broadcasts query terms and takes the top-10 without a global sort") {
    val p = plan("i12_bm25_search")
    // the 5-term query table and the one-row scalars broadcast; the
    // only sort is TakeOrdered's per-partition heads
    assert(p.contains("BroadcastHashJoin"), s"term join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 fell back to a global sort:\n$p")
    assert(!p.contains("Window"), s"unexpected window in i12:\n$p")
  }

  test("d13 hamming clusters band over supernodes; no window, no cartesian") {
    val p = plan("d13_image_hamming_clusters")
    // candidates come from the band-key equi-join over DISTINCT hashes
    // (supernodes), never an all-pairs compare or a window over members
    assert(!p.contains("CartesianProduct"), s"d13 degenerated to all-pairs:\n$p")
    assert(!p.contains("Window"), s"unexpected window in d13:\n$p")
    // the supernode collapse is a partial+final hash aggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate for supernodes:\n$p")
  }

  test("m15 keyframe selection runs as the bounded heap, not a per-video window") {
    val p = plan("m15_keyframe_select")
    // sample tables of long videos are 10^5-10^6 entries — the top-3
    // must ship <=3 rows per video per mapper, never sort a partition
    assert(!p.contains("Window"), s"m15 fell back to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("lg7 frontier cut is TakeOrdered over partial-agg'd host signals") {
    val p = plan("lg7_frontier_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 fell back to a global sort:\n$p")
    assert(!p.contains("Window"), s"unexpected window in lg7:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate on the host key:\n$p")
  }

  test("c5 redirect resolution is hash-join pointer jumping, no window, no cartesian") {
    val p = plan("c5_redirect_resolution")
    // each jump round is a hash-distributed self equi-join on the
    // pointer key; the only nested-loop is the broadcast one-row max
    assert(!p.contains("Window"), s"unexpected window in c5:\n$p")
    assert(!p.contains("CartesianProduct"), s"c5 degenerated:\n$p")
  }

  test("m14 perceptual dedup groups hashes with map-side combine, no window") {
    val p = plan("m14_image_neardup")
    // near-dup clustering is ONE hash groupBy: 16 bytes per image into
    // the exchange, partial-aggregated — never an all-pairs compare or
    // a window over cluster members
    assert(!p.contains("Window"), s"unexpected window in m14:\n$p")
    assert(!p.contains("CartesianProduct"), s"m14 degenerated to all-pairs:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate over (h_hi, h_lo):\n$p")
  }

  test("t15 boilerplate: df aggregates partial→final, doc counts broadcast, no window") {
    val p = plan("t15_boilerplate")
    // per-(source, gram) doc frequency and the per-doc rollup are hash
    // groupBys with map-side combine; the per-source doc-count table
    // (O(sources) rows) broadcasts into the threshold filter — a
    // Window.partitionBy(source) formulation would sort whole sources
    assert(!p.contains("Window"), s"unexpected window in t15:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source doc counts not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected ≥2 two-phase HashAggregates:\n$p")
  }

  test("cu17 leakage split: cluster machinery only — no window, no cartesian") {
    val p = plan("cu17_leakage_split")
    // the split adds only per-row hash arithmetic on top of d5's banded
    // pipeline; nothing may degenerate into a per-cluster sort or an
    // all-pairs compare
    assert(!p.contains("Window"), s"unexpected window in cu17:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu17 degenerated:\n$p")
  }

  test("cu24 frozen split: cluster machinery only — no window, no cartesian") {
    val p = plan("cu24_frozen_split")
    // two d5-shaped clusterings + an anchor fold + the bucketed index
    // probe; nothing may degenerate into a per-cluster sort or an
    // all-pairs compare (the cu17 pin, carried to the frozen variant)
    assert(!p.contains("Window"), s"unexpected window in cu24:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu24 degenerated:\n$p")
  }

  test("m18/m19/m21/m22 media decode stays embarrassingly parallel") {
    Seq("m18_png_palette_gray", "m19_png_deep16", "m21_webp_lossless",
        "m22_jpeg_ac").foreach { q =>
      val p = plan(q)
      // per-partition decode over binary columns: no joins, no windows;
      // the only exchange is the final presentation sort
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1, s"$q picked up a shuffle:\n$p")
    }
  }

  test("m23 cross-format dedupe: one hash groupBy, no join, no window") {
    val p = plan("m23_cross_format_neardup")
    assert(!p.contains("Window"), s"m23 grew a window:\n$p")
    assert(!p.contains("Join"), s"m23 grew a join:\n$p")
  }

  test("m24 FLAC decode stays embarrassingly parallel") {
    val p = plan("m24_flac_pcm")
    // per-partition codec kernel: no joins, no windows; the only
    // exchange is the final presentation sort
    assert(!p.contains("Window"), s"m24 grew a window:\n$p")
    assert(!p.contains("Join"), s"m24 grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"m24 picked up a shuffle:\n$p")
  }

  test("m25 cross-format audio dedupe: one fp groupBy, no join, no window") {
    val p = plan("m25_cross_format_audio_neardup")
    assert(!p.contains("Window"), s"m25 grew a window:\n$p")
    assert(!p.contains("Join"), s"m25 grew a join:\n$p")
  }

  test("m26 audio quality gates stay embarrassingly parallel") {
    val p = plan("m26_audio_quality")
    assert(!p.contains("Window"), s"m26 grew a window:\n$p")
    assert(!p.contains("Join"), s"m26 grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"m26 picked up a shuffle:\n$p")
  }

  test("m27 FLAC tag extraction stays embarrassingly parallel") {
    val p = plan("m27_flac_tags")
    assert(!p.contains("Window"), s"m27 grew a window:\n$p")
    assert(!p.contains("Join"), s"m27 grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1, s"m27 picked up a shuffle:\n$p")
  }

  test("x18/u5 per-row codecs stay embarrassingly parallel") {
    Seq("x18_chunked_decode", "u5_punycode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1, s"$q picked up a shuffle:\n$p")
    }
  }

  test("st18 forecast backtest: spine joins stay equi, no per-event window") {
    val p = plan("st18_seasonal_forecast")
    assert(!p.contains("Window"), s"st18 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"st18 degenerated:\n$p")
  }

  test("st16 CUSUM: recursion folds per-type arrays, never a per-event window") {
    val p = plan("st16_cusum_drift")
    // hourly partial-agg + one ObjectHashAggregate collect per type
    // (time-bounded state); Page's recursion runs inside the scan UDF —
    // any Window here would mean a per-event sort snuck back in
    assert(!p.contains("Window"), s"st16 grew a window:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"st16 lost the fold:\n$p")
  }

  test("i20 cluster lookup: probes broadcast; the index is never re-shuffled") {
    val p = plan("i20_cluster_members")
    // the returned frame reads the two persisted bucketed label tables;
    // the O(probes) side broadcasts, so NO hash exchange may appear —
    // a hashpartitioning here would mean a point query re-shuffles the
    // corpus-sized index
    assert(!p.contains("Exchange hashpartitioning"),
      s"i20 re-shuffles the index:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("st17 periodicity: lag fanout is a generator; the shift is an equi join") {
    val p = plan("st17_periodicity")
    // the ×4 lag expansion must be an explode (pure projection fanout),
    // and the shifted self-join an equi join on (type, h+lag) — never a
    // nested-loop over the dense series
    assert(!p.contains("Window"), s"st17 grew a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"st17 degenerated:\n$p")
    assert(p.contains("Generate explode"), s"lag fanout not a generator:\n$p")
  }

  test("d14 semantic dedupe: seeds broadcast; vectors never key a shuffle") {
    val p = plan("d14_semantic_dedupe")
    // cell assignment aggregates on vec_id (the vector rides inside
    // max_by); the within-cell pair join shuffles on the CELL id —
    // quantized vectors must never appear in a hashpartitioning key
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach { hp =>
      assert(!hp.contains(" v#") && !hp.contains(" qv#"),
        s"embedding vector leaked into a shuffle key: $hp")
    }
    // the seed-codebook scan is a BroadcastNestedLoopJoin (tiny side
    // broadcast); a non-broadcast CartesianProduct would mean the
    // corpus is cross-joining itself
    assert(!p.contains("CartesianProduct"),
      s"pairwise stage degenerated to a corpus cross join:\n$p")
    assert(!p.contains("Window"), s"unexpected window in d14:\n$p")
  }

  test("d15 recall audit: probes broadcast; vectors never key a shuffle") {
    val p = plan("d15_semdedup_recall")
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach { hp =>
      assert(!hp.contains(" v#") && !hp.contains(" qv#"),
        s"embedding vector leaked into a shuffle key: $hp")
    }
    // probe-sample truth = a BroadcastNestedLoopJoin against the probe
    // set; a plain CartesianProduct would be corpus × corpus
    assert(!p.contains("CartesianProduct"),
      s"truth scan degenerated to corpus all-pairs:\n$p")
    assert(!p.contains("Window"), s"unexpected window in d15:\n$p")
  }

  test("m16 shot windows are per-video; rollup partial-aggregates") {
    val p = plan("m16_shot_boundaries")
    // lag + cumulative cut-count share ONE per-video window (partition
    // bounded by the video's frame count); the shot rollup combines
    // map-side
    assert("\\bWindow\\b".r.findAllIn(p).size <= 2,
      s"expected the shared per-video window(s) only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"shot rollup lost its map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"m16 degenerated:\n$p")
  }

  test("cu21 governed corpus composes without windows or cartesians") {
    val p = plan("cu21_governed_corpus")
    // the composition inherits each stage's discipline: t15's
    // partial-agg gate, cu17's banded clustering, cu19's commutative
    // rollup — nothing may degenerate when chained
    assert(!p.contains("Window"), s"unexpected window in cu21:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu21 degenerated:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source doc counts not broadcast:\n$p")
  }

  test("st7 anomalies: the window runs over the aggregated hourly series") {
    val df = Registry.queries("st7_anomalies")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the corpus-sized work is the partial→final groupBy to (type,
    // hour); the rolling window's partition is the AGGREGATED series
    // (O(hours) rows per type — time-bounded), so exactly one Window
    // is allowed and it must sit above the final HashAggregate
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"hourly rollup lost its map-side combine:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected exactly one (bounded) window in st7:\n$p")
  }

  test("i14 autocomplete heads run as bounded heaps, not prefix windows") {
    val p = plan("i14_autocomplete")
    // a hot prefix's vocabulary is zipf-fat; the head must ship ≤5 rows
    // per prefix per mapper (two-phase ObjectHashAggregate), never sort
    // a prefix's whole token list under a window
    assert(!p.contains("Window"), s"i14 fell back to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
  }

  test("st8 transitions: day-bucketed lag, no bare per-user window") {
    val p = plan("st8_transitions")
    // the lag() pass runs inside (user_id, day) buckets — a bare
    // per-user window would buffer a bot UA's whole history on one task
    assert("windowspecdefinition\\(user_id#\\d+L?, ts#".r.findFirstIn(p).isEmpty,
      s"st8 has a bare per-user event window (bot-skew buffer):\n$p")
    assert("windowspecdefinition\\(user_id#\\d+L?, day#\\d+,".r.findFirstIn(p).nonEmpty,
      s"st8 lost its (user_id, day) bucketed window:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected exactly one (bucketed) window in st8:\n$p")
    // the midnight-boundary pairs come from a partial-agg'd per-day
    // min_by/max_by summary equi-joined on (user, day+1) — never a window
    assert(!p.contains("CartesianProduct"), s"st8 boundary join degenerated:\n$p")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"transition count lost its map-side combine:\n$p")
  }

  test("cu19 manifest is one two-phase aggregate over a pruned scan") {
    val p = plan("cu19_audit_manifest")
    assert(!p.contains("Window"), s"unexpected window in cu19:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"manifest checksum lost its map-side combine:\n$p")
    // only the four referenced columns reach the reader
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string,n_chars:bigint>"),
      s"cu19 read more than (doc_id, text, source, n_chars):\n$p")
  }

  test("t16 co-occurrence heads run as bounded heaps after the pair prune") {
    val p = plan("t16_cooccurrence")
    // a hub token's partner list is zipf-fat: the per-token head must
    // ship ≤3 rows per mapper (ObjectHashAggregate), never window-sort;
    // the pair self-join is doc_id-keyed equi, never cartesian
    assert(!p.contains("Window"), s"t16 fell back to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"t16 degenerated:\n$p")
  }

  test("t17 collocations: partial-agg counts, top-50 as TakeOrdered, no window") {
    val p = plan("t17_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"t17 global top-50 must run as per-partition heads:\n$p")
    assert(!p.contains("Window"), s"t17 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggs for unigrams and bigrams:\n$p")
  }

  test("i15 facets: query terms broadcast-semi, matched set before the fetch join") {
    val p = plan("i15_facets")
    // the 5-term query table must broadcast into the postings (never
    // shuffle the corpus on a 5-row side)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"i15 terms must broadcast-semi-prune the postings:\n$p")
    assert(!p.contains("Window"), s"i15 fell back to a window:\n$p")
  }

  test("m17 silence windows are per-clip; run rollup partial-aggregates") {
    val p = plan("m17_silence_runs")
    // lag + cumulative run-start share the per-clip window (partition
    // bounded by the clip's own window count, m16's discipline)
    assert("\\bWindow\\b".r.findAllIn(p).size <= 2,
      s"expected the shared per-clip window(s) only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"run rollup lost its map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"m17 degenerated:\n$p")
  }

  test("t18 readability is one codegen'd projection pass, no window/join") {
    val p = plan("t18_readability")
    assert(!p.contains("Window"), s"t18 grew a window:\n$p")
    assert(!p.contains("Join"), s"t18 grew a join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"t18 grew a hash shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t18 read more than (doc_id, text):\n$p")
  }

  test("g14 degree histogram: two-level partial aggs, no window") {
    val p = plan("g14_degree_dist")
    assert(!p.contains("Window"), s"g14 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"g14 degenerated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggs for degrees and the histogram:\n$p")
  }

  test("i16 more-like-this: probe shingles broadcast, top-10 as TakeOrdered") {
    val p = plan("i16_more_like_this")
    assert(p.contains("BroadcastHashJoin"),
      s"i16 probe shingle set must broadcast into the postings:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"i16 top-10 must run as per-partition heads:\n$p")
    assert(!p.contains("Window"), s"i16 fell back to a window:\n$p")
  }

  test("a20 count-min: cells partial-aggregate, probes join the broadcast state") {
    val p = plan("a20_countmin")
    // the d×w state must combine map-side (≤192 counters per partition
    // cross the shuffle) and the 192-row state must broadcast into the
    // probe estimation, never shuffle the probes onto it
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggs for cells and exact counts:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"a20 state must broadcast into probe estimation:\n$p")
    assert(!p.contains("Window"), s"a20 fell back to a window:\n$p")
  }

  test("s21 ORC read-back: partition pruning and predicate pushdown reach the ORC scan") {
    val p = plan("s21_orc_roundtrip")
    assert(p.contains("Format: ORC"), s"s21 must read back through the ORC source:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"s21 lang predicate must prune partitions, not filter rows:\n$p")
    assert(p.contains("GreaterThanOrEqual(n_chars,500)"),
      s"s21 n_chars predicate must push into the ORC reader:\n$p")
  }

  test("g18 link prediction: doc-local pair explode, partial-agg fold, TakeOrdered(100)") {
    val p = plan("g18_link_prediction")
    assert(!p.contains("Window"), s"g18 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"g18 degenerated:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"g18 top-100 must run as per-partition heads:\n$p")
    // citation sets fold through the bounded heap (ObjectHashAggregate),
    // the pair fold through partial+final HashAggregate
    assert(p.contains("ObjectHashAggregate"),
      s"g18 per-source citation cap must use the heap aggregator:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"g18 pair fold must combine map-side:\n$p")
  }

  test("s23 JSONL read-back: explicit schema (no inference pass), partial-agg fold") {
    val p = plan("s23_jsonl_shards")
    assert(p.contains("Format: JSON"), s"s23 must read back through the json source:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"s23 parity fold must combine map-side:\n$p")
  }

  test("x16 mime sniff: codegen'd probes (no batch seam), (claimed,sniffed)-sized fold") {
    val p = plan("x16_mime_sniff")
    // the sniffer must stay inside whole-stage codegen: the mapPartitions
    // decode seam would show up as object (de)serialization boundaries
    assert(!p.contains("SerializeFromObject") && !p.contains("MapPartitions"),
      s"x16 sniff fell out of column land:\n$p")
    assert(!p.contains("Window"), s"x16 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"x16 audit fold must combine map-side:\n$p")
  }

  test("t19 textrank: final ranking is TakeOrdered off the checkpointed state, no window") {
    val p = graft.ops.Iterative.planOnly(plan("t19_textrank"))
    assert(!p.contains("Window"), s"t19 fell back to a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"t19 top-50 must run as per-partition heads:\n$p")
    // the loop-invariant edge table must ride its one-shot src
    // partitioning from cache — the final plan reads checkpointed rank
    // state, so just pin that nothing cartesian survived
    assert(!p.contains("CartesianProduct"), s"t19 degenerated:\n$p")
  }

  test("c8 compaction plan: file-level cumsum windows over (source, chunk), never source-only") {
    val p = plan("c8_compaction_plan")
    // the manifest-row window must be bounded by the 32-file chunk; only
    // the chunk-SUMS window (manifest/32 rows) may partition by source
    // alone — it orders by chunk, the data window by file_id
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val dataWindows = specs.filter(_.contains("file_id#"))
    assert(dataWindows.nonEmpty, s"no file-ordered cumsum window in:\n$p")
    dataWindows.foreach { w =>
      // the chunk expr projects as _w0; a source-only partition would
      // have file_id directly after source in the spec
      assert("""source#\d+, (_w\d+#\d+L?|chunk#\d+L?), file_id#\d+L? ASC"""
        .r.findFirstIn(w).isDefined,
        s"c8: data window not (source, chunk)-partitioned: $w\n$p")
    }
  }

  test("g15 k-core: fixpoint rollup partial-aggregates, no cartesian/window") {
    val p = plan("g15_kcore")
    // the final plan reads the materialized fixpoint edges; the degree
    // rollup must combine map-side and the peel must never degenerate
    assert(!p.contains("CartesianProduct"), s"g15 degenerated:\n$p")
    assert(!p.contains("Window"), s"g15 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final degree counts:\n$p")
  }

  test("g21 hyperball: packed-register readout, no cartesian/window") {
    val p = plan("g21_hyperball")
    // the loop persists registers packed as 16 fixed-width int columns
    // (16 plain max aggregates in one codegen HashAggregate per round —
    // the measured winner; the array+ObjectHashAggregate layout OOM'd,
    // see SCALING.md); the served plan is a parquet read + per-row
    // register folds + presentation sort — no grouping, no window,
    // nothing all-pairs
    assert(!p.contains("CartesianProduct"), s"g21 degenerated:\n$p")
    assert(!p.contains("Window"), s"g21 fell back to a window:\n$p")
    assert(!p.contains("Join"), s"g21 readout grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"g21 readout picked up a shuffle beyond the sort:\n$p")
  }

  test("g22 distance distribution: snapshot folds, no cartesian/window") {
    val p = plan("g22_distance_distribution")
    assert(!p.contains("CartesianProduct"), s"g22 degenerated:\n$p")
    assert(!p.contains("Window"), s"g22 fell back to a window:\n$p")
  }

  test("g23 harmonic centrality: wide-table readout, no join/window") {
    val p = plan("g23_harmonic_centrality")
    // the per-round estimates persist as ONE wide (node, est0..est3)
    // table, so the served plan is a read + delta projection + sort
    assert(!p.contains("CartesianProduct"), s"g23 degenerated:\n$p")
    assert(!p.contains("Window"), s"g23 fell back to a window:\n$p")
    assert(!p.contains("Join"), s"g23 readout grew a join:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"g23 readout picked up a shuffle beyond the sort:\n$p")
  }

  test("g24 centrality top-k: bounded-heap TakeOrdered, no sort/join/window") {
    val p = plan("g24_centrality_topk")
    // global top-50 over the persisted estimate table must be a per-
    // partition 50-row heap merged on the driver — never a full sort of
    // the V-sized table, never a window rank
    assert(p.contains("TakeOrderedAndProject"), s"g24 lost the heap plan:\n$p")
    assert(!p.contains("Window"), s"g24 fell back to a window:\n$p")
    assert(!p.contains("Join"), s"g24 readout grew a join:\n$p")
    assert(!"Exchange".r.findFirstIn(p).isDefined,
      s"g24 heap readout should be shuffle-free:\n$p")
  }

  test("st13 stickiness: expansion + distinct folds, no window over users") {
    val p = plan("st13_stickiness")
    // rolling distinct must come from the bounded day expansion +
    // partial-agg'd folds, never a user-buffering window
    assert(!p.contains("Window"), s"st13 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"st13 degenerated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final folds for dau/wau:\n$p")
  }

  test("i17 spellcheck: block-keyed equi join, probe-partitioned window only") {
    val p = plan("i17_spellcheck")
    // probe x vocab brute force would be a cartesian; the deletion
    // index joins on the variant block; the one window partitions by
    // probe (a model-sized live query stream, never the corpus)
    assert(!p.contains("CartesianProduct"), s"i17 degenerated to brute force:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final folds for vocab/candidates:\n$p")
  }

  test("st12 scd2: day-bucketed run detection, no bare per-user event window") {
    val p = plan("st12_scd2")
    // the change-detection lag runs inside (user_id, day) buckets; the
    // only per-user window orders DAY SUMMARY rows (≤366/user/year) —
    // and the interval close is a dense equi self-join, not a run window
    assert("windowspecdefinition\\(user_id#\\d+L?, ts#".r.findFirstIn(p).isEmpty,
      s"st12 has a bare per-user event window (bot-skew buffer):\n$p")
    assert("windowspecdefinition\\(user_id#\\d+L?, day#\\d+,".r.findFirstIn(p).nonEmpty,
      s"st12 lost its (user_id, day) bucketed window:\n$p")
    assert("windowspecdefinition\\(user_id#\\d+L?, run_id#".r.findFirstIn(p).isEmpty,
      s"st12 regrew the run-level lead() window:\n$p")
    assert(!"partitionBy=\\[\\]|Window.*, \\[\\],".r.findFirstIn(p).isDefined,
      s"st12 has an UNPARTITIONED window (corpus-wide sort):\n$p")
    assert(!p.contains("CartesianProduct"), s"st12 interval close degenerated:\n$p")
  }

  test("st5 sessionize: day-bucketed windows + day-summary stitch, no bare per-user window") {
    val p = plan("st5_sessionize")
    // phase 1 sessionizes inside (user_id, day); phase 2's per-user
    // window orders per-day SUMMARY rows (≤366/user/year) — no window
    // anywhere sorts one user's raw event history
    assert("windowspecdefinition\\(user_id#\\d+L?, ts#".r.findFirstIn(p).isEmpty,
      s"st5 has a bare per-user event window (bot-skew buffer):\n$p")
    assert("windowspecdefinition\\(user_id#\\d+L?, day#\\d+,".r.findFirstIn(p).nonEmpty,
      s"st5 lost its (user_id, day) bucketed window:\n$p")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"st5 fragment fold lost its two-phase shape:\n$p")
  }

  test("x15 useragent: one partial-agg fold, no window, no join") {
    val p = plan("x15_useragent")
    assert(!p.contains("Window"), s"x15 fell back to a window:\n$p")
    assert(!p.contains("Join"), s"x15 grew an unexpected join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final fold:\n$p")
  }

  test("c7 incremental join: equi-join terms with partial aggs, no window") {
    val p = plan("c7_incremental_join")
    assert(!p.contains("CartesianProduct"), s"c7 degenerated:\n$p")
    assert(!p.contains("Window"), s"c7 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"expected partial+final aggs across the view/delta terms:\n$p")
  }

  test("s20 zorder: one partial-agg fold, no join, no window") {
    val p = plan("s20_zorder_layout")
    assert(!p.contains("Window"), s"s20 fell back to a window:\n$p")
    assert(!p.contains("Join"), s"s20 grew an unexpected join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final bucket fold:\n$p")
  }

  test("d17 prefix filter: gram-keyed equi joins, doc-bounded window only") {
    val p = plan("d17_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), s"d17 degenerated to all-pairs:\n$p")
    // the ONE window is the per-doc prefix rank — its partition is a
    // single document's shingle count, bounded by doc length, never by
    // the corpus (the st7 bounded-partition discipline)
    assert("partitionBy.*doc_id|Window.*doc_id".r.findFirstIn(p).isDefined ||
      p.contains("Window"), s"expected the doc-bounded prefix window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final folds for df/size/intersection:\n$p")
  }

  test("g17 components: star-forest readout, no cartesian, no window") {
    val p = plan("g17_components")
    assert(!p.contains("CartesianProduct"), s"g17 degenerated:\n$p")
    assert(!p.contains("Window"), s"g17 fell back to a window:\n$p")
  }

  test("d16 record linkage: blocked equi join, no cartesian, no window, no sort") {
    val p = plan("d16_record_linkage")
    // |A|x|B| scoring would surface as a cartesian; blocking keys the
    // join on (nation, name-prefix); the corpus-sized match report
    // must not pay a global range sort
    assert(!p.contains("CartesianProduct"), s"d16 degenerated to all-pairs:\n$p")
    assert(!p.contains("Window"), s"d16 fell back to a window:\n$p")
    assert(!"Sort \\[id_a".r.findFirstIn(p).isDefined,
      s"d16 pays a global sort on the match report:\n$p")
  }

  test("u4/cu22 audits: one partial-agg fold each, no window, no join") {
    for (q <- Seq("u4_homoglyph", "cu22_kanonymity")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q fell back to a window:\n$p")
      assert(!p.contains("Join"), s"$q grew an unexpected join:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q expected partial+final fold:\n$p")
    }
  }

  test("ss14 maxsim: probe bag broadcast, partial-agg reductions, heap top-k") {
    val p = plan("ss14_maxsim")
    // query tokens broadcast (late-interaction design point); the two
    // reductions partial-agg; the per-query top-5 is the bounded heap
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"ss14 probe bag must broadcast:\n$p")
    assert(!p.contains("Window"), s"ss14 fell back to a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"ss14 top-k must run through the bounded heap:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final max and sum reductions:\n$p")
  }

  test("f9 url templates: partial-agg fold, one-row total broadcast, no window") {
    val p = plan("f9_url_templates")
    assert(!p.contains("CartesianProduct"), s"f9 total join degenerated:\n$p")
    assert(!p.contains("Window"), s"f9 fell back to a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"f9 one-row total must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final template fold:\n$p")
  }

  test("st11 trend slope: two partial-agg passes, no window, no sort before agg") {
    val p = plan("st11_trend_slope")
    assert(!p.contains("Window"), s"st11 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"st11 degenerated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggs for daily and per-user passes:\n$p")
  }

  test("u3 typosquat: shuffled variant joins, no broadcast, no cartesian, no sort") {
    val p = plan("u3_typosquat")
    // all-pairs levenshtein would surface as a cartesian (join with no
    // equi keys); both variant-table sides are corpus-sized, so neither
    // may broadcast (localCheckpoint stats under-report them — the hints
    // pin the scale-safe shuffle plan); and the corpus-sized pair report
    // must not pay a global range sort (the gate sorts rows itself)
    assert(!p.contains("CartesianProduct"), s"u3 degenerated to all-pairs:\n$p")
    assert(!p.contains("Window"), s"u3 fell back to a window:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"u3 broadcast a corpus-sized variant side:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"u3 variant joins must sort-merge (spillable):\n$p")
    assert(!"Sort \\[host".r.findFirstIn(p).isDefined,
      s"u3 pays a global sort on the corpus-sized result:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final candidate dedupe:\n$p")
  }

  test("g16 seed distance: frontier equi joins, no cartesian, no window") {
    val p = plan("g16_seed_distance")
    assert(!p.contains("CartesianProduct"), s"g16 degenerated:\n$p")
    assert(!p.contains("Window"), s"g16 fell back to a window:\n$p")
  }

  test("g13 triangles: degree-ordered equi joins, no cartesian, no window") {
    val p = plan("g13_triangles")
    // the heap cap and pair prune run in the materialization pre-jobs;
    // the final plan starts from the materialized pairs and must keep
    // the wedge + close joins equi-keyed (never cartesian) and the
    // per-node rollup two-phase
    assert(!p.contains("CartesianProduct"),
      s"g13 wedge/close joins must stay equi:\n$p")
    assert(!p.contains("Window"), s"g13 fell back to a window sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final per-node counts:\n$p")
  }

  test("c6 snapshot diff: fingerprints computed at the scan, one equi shuffle") {
    val p = plan("c6_snapshot_diff")
    // the full-outer join must move 28-bit fingerprints, never text —
    // no text column may appear in a hashpartitioning key, and the
    // rollup partial-aggregates
    val partitionings = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty)
    partitionings.foreach(hp => assert(!hp.contains("text#"),
      s"text leaked into a shuffle key: $hp"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"diff rollup lost its map-side combine:\n$p")
    assert(!p.contains("Window"), s"unexpected window in c6:\n$p")
  }

  test("cu25 eval sweep: corpus collapses to buckets before the bounded cumsum") {
    val p = plan("cu25_classifier_eval")
    // cu20's sweep discipline: the only corpus-sized work is the
    // partial→final bucket groupBy; the descending cumulative TP/FP
    // window runs over the model-sized bucket table, totals broadcast
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bucket rollup lost its map-side combine:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected exactly one (bucket-table) window in cu25:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals scalar not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu25 degenerated:\n$p")
  }

  test("cu20 sweep: corpus collapses to buckets before the bounded cumsum") {
    val p = plan("cu20_budget_threshold")
    // the only corpus-sized work is the partial→final bucket groupBy;
    // the single window cumsum runs over the model-sized bucket table
    // with the broadcast budget scalar
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bucket rollup lost its map-side combine:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      s"expected exactly one (bucket-table) window in cu20:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"budget scalar not broadcast:\n$p")
  }

  test("st10 funnel chains min-timestamps; no per-user ordered window") {
    val p = plan("st10_funnel")
    // each step reduces to ONE (ts, event_id) per user via min-struct
    // aggregation + a user-keyed equi join — a window formulation would
    // sort every user's whole history
    assert(!p.contains("Window"), s"unexpected window in st10:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"step aggregates lost their map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"st10 degenerated:\n$p")
  }

  test("st9 retention: three partial-agg passes, no windows") {
    val p = plan("st9_retention")
    assert(!p.contains("Window"), s"unexpected window in st9:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggregates for distinct/cohort/rollup:\n$p")
    assert(!p.contains("CartesianProduct"), s"st9 degenerated:\n$p")
  }

  test("i13 snippets prune postings by broadcast; snippet join stays equi") {
    val p = plan("i13_snippets")
    // same discipline as i11: only the queried words' postings shuffle,
    // and the token-array fetch for the window slice is a doc_id equi
    // join over matching docs only
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected broadcast prunes on both phrase words:\n$p")
    assert(!p.contains("CartesianProduct"), s"i13 degenerated:\n$p")
    assert(!p.contains("Window"), s"unexpected window in i13:\n$p")
  }

  test("a21 HLL registers fold partial→final at every level; exact side broadcasts") {
    val p = plan("a21_hll_registers")
    // daily registers, the daily→total MAX merge, and the 256-row report
    // fold must all combine map-side — only O(groups × 256) register rows
    // ever cross a shuffle; the exact-distinct ground truth joins back as
    // a broadcast O(types) relation
    assert(!p.contains("Window"), s"a21 fell back to a window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final register folds:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"a21 exact-count side must broadcast:\n$p")
  }

  test("g19 modularity: one edge pass into a partial-agg fold; total broadcasts") {
    val p = plan("g19_modularity")
    // each edge contributes two (root, role) rows to ONE groupBy onto
    // O(|roots|) rows; the total-weight scalar is a broadcast one-row
    // relation — no window, no self-join, no corpus reshuffle
    assert(!p.contains("Window"), s"g19 fell back to a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"g19 total-weight scalar not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"g19 root fold lost its map-side combine:\n$p")
  }

  test("s26 COW merge: the touched-bucket cut prunes partitions, not rows") {
    val p = plan("s26_cow_merge")
    // both final-read legs must prune at the PARTITION level (directory
    // listing), never as a post-scan row filter: the untouched leg skips
    // the touched dirs, and the rewrite leg reads only its own output —
    // at corpus scale the merge's read volume is O(batch), not O(corpus)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined,
      s"s26 bucket cut did not reach PartitionFilters:\n$p")
    assert(!p.contains("Window"), s"unexpected window in s26:\n$p")
  }

  test("i18 keyset page: the cursor predicate pushes to the scan; limit is TakeOrdered") {
    val p = plan("i18_keyset_pagination")
    // the whole point of seek-method pagination: the tuple-order cursor
    // predicate must reach the reader (min/max-prunable Or of the two
    // branches), and the page head must be TakeOrdered — never a global
    // sort, never a row_number window over everything before the page
    assert("PushedFilters: \\[[^\\]]*Or\\(LessThan\\(o_totalprice".r.findFirstIn(p).isDefined,
      s"i18 cursor predicate not pushed to the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"i18 page head fell back to a global sort:\n$p")
    assert(!p.contains("Window"), s"i18 grew an offset window:\n$p")
  }

  test("st15 gap fill: spine broadcasts; the LOCF window is per-type time-bounded") {
    val p = plan("st15_gap_fill_locf")
    // the one-row span agg must broadcast into the spine cross join, and
    // the only window is the per-event_type LOCF over O(elapsed days)
    // rows — never a corpus-partitioned or unpartitioned window
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"st15 span scalar not broadcast:\n$p")
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no LOCF window found in:\n$p")
    specs.foreach { w =>
      assert(w.trim.startsWith("event_type#"),
        s"st15 window not per-type partitioned: $w\n$p")
    }
  }

  test("i19 host crowding: heap cut per source, TakeOrdered page, no window") {
    val p = plan("i19_host_crowding")
    // a megasite must ship ≤2 rows per mapper (partial→final
    // ObjectHashAggregate); the page head is per-partition TakeOrdered
    // over the O(2·hosts) survivors
    assert(!p.contains("Window"), s"i19 fell back to a window sort:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"i19: expected partial+final ObjectHashAggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"i19 page cut fell back to a global sort:\n$p")
  }

  test("s25 prefix scan: the SURT range reaches the parquet reader as pushed filters") {
    val p = plan("s25_cdx_prefix_scan")
    // the sorted-layout design point: the prefix query must arrive at the
    // scan as a sargable key range (row-group min/max pruning), never as
    // a post-scan filter over the whole index
    assert(p.contains("GreaterThanOrEqual(urlkey"),
      s"s25 lower bound not pushed to the scan:\n$p")
    assert(p.contains("LessThan(urlkey"),
      s"s25 upper bound not pushed to the scan:\n$p")
  }

  test("d19 spans: the wide exchanges key on xxhash64, windows stay per-doc") {
    val p = plan("d19_substring_spans_hashed")
    // the production point: the gram key that reaches the wide exchanges
    // must be the 8-byte hash, not the token string — the checkpoint
    // hides the xxhash64 projection itself, so pin the KEY TYPE: d19
    // partitions on a LONG gram column (g#NNNL), d18 on a string
    assert("hashpartitioning\\(g#\\d+L".r.findFirstIn(p).isDefined,
      s"d19 exchange does not key on the hashed (long) gram:\n$p")
    val p18 = plan("d18_substring_spans")
    assert("hashpartitioning\\(g#\\d+L".r.findFirstIn(p18).isEmpty &&
      "hashpartitioning\\(g#\\d+,".r.findFirstIn(p18).isDefined,
      s"d18 no longer shuffles the string gram (oracle-exact form):\n$p18")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"df gate lost its map-side combine:\n$p")
    val winSpecs = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    val wins = "\\bWindow\\b".r.findAllIn(p).size
    assert(wins > 0 && winSpecs >= wins,
      s"d19 window not doc-partitioned ($wins windows, $winSpecs doc specs):\n$p")
    assert(!p.contains("CartesianProduct"), s"d19 degenerated:\n$p")
  }

  test("t10/cu30 bigram LM: exchanges key on the LONG gram hash (r20 keying)") {
    // the d19 contract one tier down: after the r20 keying change the
    // LM df gate and join-back must shuffle xxhash64(gram) — a LONG
    // column — never the joined token text
    for (q <- Seq("t10_lm_score", "cu30_perplexity_buckets")) {
      val p = plan(q)
      assert("hashpartitioning\\(gram#\\d+L".r.findFirstIn(p).isDefined,
        s"$q exchange does not key on the hashed (long) gram:\n$p")
      assert("hashpartitioning\\(gram#\\d+,".r.findFirstIn(p).isEmpty,
        s"$q still shuffles a string gram column:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q degenerated:\n$p")
    }
  }

  test("cu31 span apply: doc_id equi-join, hashed span kernel, no token-level window") {
    val p = plan("cu31_span_apply")
    // the span kernel inside is the d19-keyed form: a LONG g column in
    // the wide exchanges (contaminationSpansHashed)
    assert("hashpartitioning\\(g#\\d+L".r.findFirstIn(p).isDefined,
      s"cu31 span kernel does not key on the hashed gram:\n$p")
    // the apply itself: spans aggregate per doc and join back on doc_id;
    // the per-token subtraction is a projection (filter-by-index), so
    // the only windows are the span kernel's own doc-bounded ones
    val winSpecs = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    val wins = "\\bWindow\\b".r.findAllIn(p).size
    assert(winSpecs >= wins, s"cu31 grew a non-doc window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu31 degenerated:\n$p")
  }

  test("t25 NB inference: model/stats joins broadcast; per-doc agg partial") {
    val p = plan("t25_nb_classify")
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r.findFirstIn(p).isDefined,
      s"t25 model join is not a broadcast:\n$p")
    // the corpus-side score agg must partial-aggregate before the
    // doc_id exchange (map-side combine on (doc_id, label))
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"t25 lost map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"t25 degenerated:\n$p")
  }

  test("t26 two-pass head: pass-1 exchange keys on the LONG hash; candidate semi-join broadcasts") {
    val p = plan("t26_ngram_counts_hashed")
    assert("hashpartitioning\\(n#\\d+L, gh#\\d+L".r.findFirstIn(p).isDefined,
      s"t26 pass-1 count does not key on (n, LONG hash):\n$p")
    assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(p).isDefined,
      s"t26 candidate filter is not a broadcast semi-join:\n$p")
    assert(!p.contains("WindowExec"), s"t26 grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"t26 degenerated:\n$p")
  }

  test("d21 rewrite: keeper gate keys on the LONG gram hash; windows doc-bounded") {
    val p = plan("d21_exactsubstr_rewrite")
    assert("hashpartitioning\\(g#\\d+L".r.findFirstIn(p).isDefined,
      s"d21 keeper gate does not key on the hashed (long) gram:\n$p")
    assert("hashpartitioning\\(g#\\d+,".r.findFirstIn(p).isEmpty,
      s"d21 shuffles a string gram column:\n$p")
    // EVERY window spec must be doc-partitioned (total == doc-keyed
    // count — a >= comparison could mask a non-doc window hiding in an
    // operator that hosts several specs), and the spans windows must
    // actually be present
    val allSpecs = "windowspecdefinition\\(".r.findAllIn(p).size
    val docSpecs = "windowspecdefinition\\(doc_id".r.findAllIn(p).size
    assert(allSpecs > 0 && allSpecs == docSpecs,
      s"d21 grew a non-doc window ($docSpecs/$allSpecs doc-keyed):\n$p")
    assert(!p.contains("CartesianProduct"), s"d21 degenerated:\n$p")
  }

  test("d20 paragraphs: df gate partial-aggs on the hash; reassembly per-doc, no window") {
    val p = plan("d20_paragraph_dedupe")
    // the gate groups on md5(paragraph) with map-side combine; the
    // in-order reassembly is a per-doc collect_list (obj-hash agg with a
    // partial phase), never a corpus window
    assert(p.contains("md5"), s"paragraph hash missing from d20 plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"df gate lost its map-side combine:\n$p")
    assert(p.contains("partial_collect_list"),
      s"reassembly lost its partial phase:\n$p")
    assert(!p.contains("\nWindow") && !p.contains("CartesianProduct"),
      s"d20 grew a window or cartesian:\n$p")
  }

  test("cu30 terciles: corpus collapses to the histogram before the cumsum") {
    val p = plan("cu30_perplexity_buckets")
    // the cu20 discipline one level up: the only windows are the
    // descending cumsum over the (lang, score) HISTOGRAM — both
    // partitioned by lang over aggregated rows — and the two threshold
    // rows broadcast back to the corpus side
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"histogram/LM rollups lost map-side combines:\n$p")
    val wins = "\\bWindow\\b".r.findAllIn(p).size
    assert(wins <= 2, s"expected at most 2 histogram windows in cu30, got $wins:\n$p")
    assert("windowspecdefinition\\(lang".r.findAllIn(p).size >= wins,
      s"cu30 window not lang-partitioned:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"tercile thresholds not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cu30 degenerated:\n$p")
  }
}
