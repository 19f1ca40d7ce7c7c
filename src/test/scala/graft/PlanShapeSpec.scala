package graft

import graft.operators.{Analytics, Geo}

/** Plan-shape regression guards: the scale properties SURVEY §5 claims
  * (pushdown, pruning, broadcast) must be visible in the physical
  * plan, not just asserted in prose. Pinned to Spark 4.1 plan strings.
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1 pushes the shipdate range into the parquet scan") {
    val plan = planOf(Analytics.q1PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"missing pushdown:\n$plan")
  }

  test("rasterize reads only event_id from the events scan") {
    val plan = planOf(Geo.geoRasterize(spark, sf))
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => s == "event_id:bigint"),
      s"expected single-column scan, got $readSchemas")
  }

  test("q5 joins all dimensions via broadcast around the bucketed fact leg") {
    val plan = planOf(Analytics.q5LocalSupplier(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    // supplier, customer, nation, region broadcast; the fifth join is
    // the orders⋈lineitem leg, which since r5 is a bucketed SMJ (its
    // shape is pinned by the dedicated q5 bucketed-plan test)
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$plan")
  }

  test("as-of join plans as a single window pass, not a join") {
    val plan = planOf(Analytics.joinAsof(spark, sf))
    assert(!plan.contains("Join"), s"as-of should be join-free:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"expected a window operator:\n$plan")
  }

  test("filter_bloom probes via native might_contain, no UDF in the plan") {
    val plan = planOf(Analytics.filterBloom(spark, sf))
    assert(!plan.contains("UDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe must be a native expression:\n$plan")
    assert(plan.contains("might_contain"),
      s"expected BloomFilterMightContain in the plan:\n$plan")
  }

  test("text ngrams/langid plans carry no interpreted higher-order function") {
    for ((name, df) <- Seq(
        "text_ngrams" -> operators.TextOps.textNgrams(spark, sf),
        "text_langid" -> operators.TextOps.textLangid(spark, sf))) {
      val plan = planOf(df)
      for (bad <- Seq("zip_with", "ZipWith", "ArrayFilter", "lambdafunction"))
        assert(!plan.contains(bad), s"$name: interpreted HOF '$bad' in plan:\n$plan")
    }
  }

  test("eq-hist shade has no un-partitioned window over the raster") {
    for ((name, df) <- Seq(
        "geo_shade_eqhist" -> Geo.geoShadeEqhist(spark, sf),
        "geo_shade_rgb" -> Geo.geoShadeRgb(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("Window"),
        s"$name: expected the two-pass histogram (window-free) shade:\n$plan")
    }
  }

  test("topk_per_group_agg plans as partial+final TopKPerGroup around one exchange") {
    val plan = planOf(Analytics.topkPerGroupAgg(spark, sf))
    val hits = "TopKPerGroup".r.findAllIn(plan).length
    assert(hits >= 2, s"expected partial+final TopKPerGroupExec:\n$plan")
    assert(!plan.contains("WindowExec"), s"no window sort expected:\n$plan")
  }

  test("declarative zip_with dot product is rewritten to native vector_dot") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    // the double-cast form: eligible, must be rewritten
    val dfYes = e.select(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v).as("dot"))
    assert(planOf(dfYes).contains("vector_dot"),
      s"expected FloatVectorDot rewrite:\n${planOf(dfYes)}")
    // verify the rewrite is bit-identical to the interpreted fold by
    // comparing against a session without graft extensions — here we
    // at least pin it against the direct expression
    val viaExpr = e.selectExpr("vector_dot(embedding, embedding) AS dot")
    val a = dfYes.collect().map(_.getDouble(0))
    val b = viaExpr.collect().map(_.getDouble(0))
    assert(a.sameElements(b))
    // float-multiply form rounds differently: must NOT be rewritten
    val dfNo = e.select(aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v).as("dot"))
    assert(!planOf(dfNo).contains("vector_dot"),
      s"float-multiply fold must stay interpreted:\n${planOf(dfNo)}")
  }

  test("join_bucketed: zero shuffle exchanges below the presentation sort") {
    val df = Analytics.joinBucketed(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    // the ONLY exchange allowed is the final ORDER BY's range partition:
    // join and per-order aggregation both ride the bucket partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join+agg must not hash-shuffle:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
  }

  test("text_redact is one codegen'd scan: no shuffle below the presentation sort") {
    val plan = planOf(graft.operators.TextOps.textRedact(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"redaction must not shuffle — it is a pure map pass:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("SQLFunction"),
      s"redaction must stay native column regex, no UDF:\n$plan")
    // exactly one data scan feeds the whole pipeline
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"expected a single documents scan:\n$plan")
  }

  test("mm_resize is one kind-filtered codegen scan") {
    val plan = planOf(graft.operators.Multimodal.mmResize(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"resize planning must not shuffle:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"expected a single documents scan:\n$plan")
  }

  test("tokenize_bpe_ids: broadcast encode joins, one doc-keyed exchange") {
    val plan = planOf(graft.operators.TextOps.tokenizeBpeIds(spark, sf))
    // segment table and subword vocab reach the corpus via broadcast
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"segments + subword vocab must broadcast into the corpus scan:\n$plan")
    // the only corpus-keyed shuffle is the per-doc offset window
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length == 1,
      s"expected exactly one doc_id-keyed exchange (the offset window):\n$plan")
  }

  test("scan_partitioned prunes to one day-partition via PartitionFilters") {
    val plan = planOf(Analytics.scanPartitioned(spark, sf))
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"expected the date predicate as a partition filter:\n$plan")
    // the predicate must NOT fall through to a data filter on event_date
    assert(!plan.contains("PushedFilters: [IsNotNull(event_date)"),
      s"event_date must be a partition column, not a data column:\n$plan")
  }

  test("agg_salted plans as two aggregate pairs, salted first") {
    val plan = planOf(Analytics.aggSalted(spark, sf))
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 4, s"expected partial/final pairs for both phases:\n$plan")
  }

  test("ann_ivf_indexed searches the persisted index declaratively") {
    val plan = planOf(operators.Similarity.annIvfIndexed(spark, sf))
    assert(plan.contains("graft_ivf_index"),
      s"expected a scan of the postings table:\n$plan")
    // the search path is pure column math over the index tables — no
    // typed closures (the inline annIvf assigns via flatMap instead)
    assert(!plan.contains("SerializeFromObject") && !plan.contains("DeserializeToObject"),
      s"index search must not use typed closures:\n$plan")
  }

  test("dedup_embedding is distributed: no driver collect, bucket-keyed join") {
    val plan = planOf(operators.Dedup.dedupEmbedding(spark, sf))
    assert(plan.contains("Join"), s"expected a bucket join:\n$plan")
    assert(plan.contains("bucket"), s"expected bucket keys:\n$plan")
  }

  test("dedup_embedding_ivf joins on trained cells, never cross joins") {
    // The scale path's whole point is replacing the N²/2 pair space
    // with a cell-equality join; a regression to a nested-loop or
    // cartesian shape would silently reintroduce the quadratic scan.
    val plan = planOf(operators.Similarity.dedupEmbeddingIvf(spark, sf))
    assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
      s"cell-bucketed dedup must not plan a cross join:\n$plan")
    assert(plan.contains("cell"), s"expected the cell join key:\n$plan")
  }

  test("q5 rides the bucketed tables: only the post-agg nation exchange remains") {
    val plan = planOf(Analytics.q5LocalSupplier(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // the orderkey shuffle of both fact tables is gone; what remains is
    // the O(nations) aggregation exchange (and the final sort's range)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected exactly the n_name agg exchange, got $hashEx:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(n_name"),
      s"the surviving exchange must be the nation agg:\n$plan")
  }

  test("q3 rides the bucketed tables: no hash exchange on the fact-fact leg") {
    val plan = planOf(Analytics.q3ShippingPriority(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // customer arrives via BroadcastExchange; join AND per-order agg
    // ride the bucket partitioning — zero hash shuffles in the query
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q3 fact-fact leg must not hash-shuffle:\n$plan")
  }

  test("join_skew_salted shuffles on (join_key, salt) — no broadcast, no single hot reducer") {
    val plan = planOf(Analytics.joinSkewSalted(spark, sf))
    assert(plan.contains("ShuffledHashJoin"),
      s"salted demo must stay a shuffled join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"dim side broadcast would bypass the salting demo:\n$plan")
    val saltedPartitioning = "hashpartitioning\\(join_key[^)]*salt".r
    assert(saltedPartitioning.findFirstIn(plan).isDefined,
      s"exchange must partition on the composite (join_key, salt) key:\n$plan")
  }

  test("q6 pushes shipdate range and quantity cap into the parquet scan") {
    val plan = planOf(Analytics.q6ForecastRevenue(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate")
      && plan.contains("l_quantity"), s"missing pushdown:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q6 is a scan + single final merge, no hash shuffle:\n$plan")
  }

  test("scan_dpp prunes fact partitions with a runtime dim subquery") {
    val plan = planOf(Analytics.scanDpp(spark, sf))
    assert(plan.contains("dynamicpruningexpression"),
      s"fact scan must carry a dynamic partition filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 3-day dim must broadcast:\n$plan")
  }

  test("q4's EXISTS plans as a bucketed left-semi SMJ, no hash exchange") {
    val plan = planOf(operators.TpcH.q4PriorityLate(spark, sf))
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftSemi"),
      s"EXISTS must compile to a semi SMJ over the bucketed twins:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // the only hash exchange allowed is the O(priorities) aggregation
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 1, s"fact legs must ride the buckets, got $hashEx:\n$plan")
  }

  test("q21's EXISTS semi and NOT-EXISTS anti both ride the bucket partitioning") {
    val plan = planOf(operators.TpcH.q21WaitingSuppliers(spark, sf))
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"EXISTS/NOT EXISTS must compile to semi+anti joins:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // late⋈orders, the semi, and the anti are all keyed on l_orderkey:
    // every fact leg consumes the bucketed partitioning, so the only
    // hash exchange left is the final O(suppliers) aggregation
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 1, s"fact legs must ride the buckets, got $hashEx:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"NATION_1 probe must broadcast:\n$plan")
  }

  test("q18's rollup and join-back both ride the bucket partitioning") {
    val plan = planOf(operators.TpcH.q18LargeOrders(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // groupBy(l_orderkey) ⊇ bucket key and the join-back is co-located:
    // zero hash exchanges in the whole fact pipeline (customer broadcasts)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q18 fact pipeline must not hash-shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"customer must broadcast:\n$plan")
  }

  test("join_skew_aqe is a bare-children SMJ — the shape OptimizeSkewedJoin can split") {
    val plan = planOf(Analytics.joinSkewAqe(spark, sf))
    assert(plan.contains("SortMergeJoin"),
      s"skew demo must stay a sort-merge join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"a broadcast would bypass the skew-split path:\n$plan")
    // the skew A/B precondition (SURVEY.md §8c): no aggregate between either
    // side's exchange and the join (a grouped dim disables the rule).
    // The plan prints top-down, so the SMJ's whole subtree follows its
    // line — both children must be bare scan→exchange→sort pipelines.
    val subtree = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!subtree.contains("HashAggregate"),
      s"join children must reach the exchange bare:\n$plan")
  }

  test("merge_delete keeps the dim shuffle-free: broadcasts only") {
    val plan = planOf(graft.operators.Maintain.mergeDelete(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 3,
      s"expected the anti + update-inner + delete-inner broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("Exchange hashpartitioning"),
      s"dim side must reach the merge without a shuffle:\n$plan")
  }

  test("merge_upsert never shuffles the dim: broadcast anti + inner only") {
    val plan = planOf(graft.operators.Maintain.mergeUpsert(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).length == 2,
      s"expected exactly the anti+inner broadcast pair:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("Exchange hashpartitioning"),
      s"dim side must reach the merge without a shuffle:\n$plan")
  }

  test("dim_scd2's three window functions share one custkey shuffle") {
    val plan = planOf(graft.operators.Maintain.dimScd2(spark, sf))
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"lead/row_number/running-sum must ride ONE partitioning, got $hashExchanges:\n$plan")
  }

  test("agg_heavy_hitters broadcasts the fixed-size sketch into the estimate join") {
    val plan = planOf(graft.operators.Analytics.aggHeavyHitters(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=4096-row CMS must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"exact top-20 must be TakeOrdered, not a global sort:\n$plan")
  }

  test("text_boilerplate's hit join is pinned shuffled-hash, never broadcast") {
    val plan = planOf(graft.operators.TextOps.textBoilerplate(spark, sf))
    // At 100 TB the boilerplate set is gram-cardinality — not
    // broadcastable by construction. The hint makes the production
    // plan shape visible at test SF instead of only appearing at scale.
    assert(plan.contains("ShuffledHashJoin"),
      s"boilerplate hit join must stay shuffled:\n$plan")
    val hitJoinBroadcast = "BroadcastHashJoin [^\n]*\\bhg\\b".r
    assert(hitJoinBroadcast.findFirstIn(plan).isEmpty,
      s"boilerplate set must not broadcast into the hit join:\n$plan")
  }

  test("events_anomaly takes its top-100 via TakeOrdered, no global sort") {
    val plan = planOf(Analytics.eventsAnomaly(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered top-k:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"moments must broadcast back over the scan:\n$plan")
  }

  test("bench nosort strips the presentation sort through trailing projects") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import spark.implicits._
    def hasGlobalSort(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case s: Sort if s.global => s }.nonEmpty
    val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("id", "s")
    val sorted = df.orderBy("id")
    val shaped = sorted.select(org.apache.spark.sql.functions.col("s"))
    assert(hasGlobalSort(sorted) && hasGlobalSort(shaped))
    // both the bare Sort and the Project-over-Sort shapes lose the sort
    assert(!hasGlobalSort(Bench.unsorted(sorted)))
    assert(!hasGlobalSort(Bench.unsorted(shaped)))
    // and the stripped frame still evaluates the same rows
    assert(Bench.unsorted(shaped).collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "b", "c")))
    // a Sort under a limit is computation (top-k), not presentation
    val limited = sorted.limit(2).select(org.apache.spark.sql.functions.col("s"))
    assert(hasGlobalSort(Bench.unsorted(limited)))
  }

  test("q7 and q8 fact legs ride the buckets with pre-filtered broadcast dims") {
    for ((name, df) <- Seq(
        "q7" -> operators.TpcH.q7NationVolume(spark, sf),
        "q8" -> operators.TpcH.q8MarketShare(spark, sf))) {
      val plan = planOf(df)
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
        s"$name: expected bucketed fact SMJ:\n$plan")
      // dims broadcast; the only hash exchange allowed is the final
      // O(groups) aggregation
      assert(plan.contains("BroadcastHashJoin"), s"$name: dims must broadcast:\n$plan")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashEx <= 1, s"$name: fact legs must ride the buckets, got $hashEx:\n$plan")
    }
  }

  test("ann_pq ranks through partial-before-exchange TopKPerGroup, no corpus window") {
    val plan = planOf(operators.Similarity.annPq(spark, sf))
    assert("TopKPerGroup".r.findAllIn(plan).length == 2,
      s"expected the partial+final TopKPerGroup pair:\n$plan")
    assert(!plan.contains("Window"),
      s"pq must not rank via a window over the candidates:\n$plan")
  }

  test("runtime bloom filter reduces the fact scan when 100TB thresholds are met") {
    // At bench SF every scan sits under the injection thresholds and
    // dims broadcast, so the production plans never show the rule; at
    // cluster scale (scan >> applicationSideScanSizeThreshold, shuffle
    // join) Spark 4's InjectRuntimeFilter adds a creation-side bloom
    // probe to the fact scan — semi-join reduction without a code
    // change. An isolated session (own SQLConf, shared context) proves
    // the engine's join shapes pick it up, without perturbing the 142
    // registered plans.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.col
    val l = graft.sources.Tables.load(iso, sf, "lineitem")
    val o = graft.sources.Tables.load(iso, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val plan = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
      s"expected an injected runtime bloom filter on the fact side:\n$plan")
    // and the registered default-config q3 plan stays bloom-free
    val prod = planOf(operators.Analytics.q3ShippingPriority(spark, sf))
    assert(!prod.contains("might_contain"),
      "production plans must not change at bench SF")
  }

  test("skyline's prefix-max window runs above the level collapse, not the corpus") {
    // tree strings print children BELOW their parent: the Window line
    // must come before the level-collapse HashAggregate pair, i.e. the
    // window consumes the aggregated O(levels) relation, and no window
    // may appear under a bare corpus scan (the plan's only aggregates
    // ARE the level collapse)
    val plan = planOf(Analytics.skylinePareto(spark, sf))
    val w = plan.indexOf("Window")
    val a = plan.indexOf("HashAggregate")
    assert(w >= 0, s"expected a Window in the skyline plan:\n$plan")
    assert(a > w, s"window must sit above the level-collapse aggregate:\n$plan")
  }

  // Collect every WindowExec of the pre-AQE physical plan with the
  // attribute names its partitionSpec clusters on.
  private def windowPartitionSpecs(
      df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name).toSeq)
    }

  test("events_rfm has no unpartitioned Window: quintiles via two-phase rank") {
    // The old shape was three GLOBAL ntile windows over the user table
    // — every user into one sort task, thrice. The rewrite assigns
    // quintiles from globalRowPos (range slices + broadcast offset
    // ledger), so every WindowExec left in the plan must partition by a
    // range-slice id, never run partition-less.
    val specs = windowPartitionSpecs(Analytics.eventsRfm(spark, sf))
    assert(specs.nonEmpty, "expected the slice-local row_number windows")
    assert(specs.forall(_.nonEmpty),
      s"unpartitioned Window found; partitionSpecs were:\n$specs")
    assert(specs.forall(_.exists(_.startsWith("__slice"))),
      s"every window must cluster on a range-slice id, got:\n$specs")
  }

  test("window_distribution never windows on the bare 5-value priority alphabet") {
    // Parallelism must not be capped by the priority alphabet: local
    // row_number windows cluster on (slice, priority); the tie-stat
    // window clusters on (priority, price) — high cardinality. No
    // WindowExec may partition by o_orderpriority alone, and none may
    // be unpartitioned.
    val specs = windowPartitionSpecs(Analytics.windowDistribution(spark, sf))
    assert(specs.nonEmpty, "expected slice-local and tie-group windows")
    assert(specs.forall(_.nonEmpty),
      s"unpartitioned Window found; partitionSpecs were:\n$specs")
    assert(specs.forall(s => s != Seq("o_orderpriority")),
      s"window partitioned by the bare priority alphabet:\n$specs")
  }

  test("globalRowPos ranged relation is one shared checkpointed RDD") {
    // globalRowPos is only CORRECT if every consumer of its ranged
    // relation (the local row_number, the count ledger, the ledger's
    // triangular self-join) observes ONE draw of the range boundaries
    // (the reservoir seed incorporates the RDD id, so independent
    // re-executions could slice rows differently — see the
    // globalRowPos Scaladoc). Since r11 the guarantee is structural:
    // the sliced relation is eagerly local-checkpointed, so all
    // consumer branches must plan as scans of the SAME materialized
    // RDD — not as per-branch range exchanges that merely happen to be
    // deduplicated by ReuseExchange. Identify those scans by the
    // operator's slice-id column and require a single underlying RDD
    // id across them.
    val df = Analytics.eventsRfm(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[RDDScanExec] = {
      val deeper = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      (p match { case r: RDDScanExec => Seq(r); case _ => Nil }) ++
        deeper.flatMap(scans)
    }
    val sliced = scans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name.startsWith("__slice_")))
    assert(sliced.size >= 2,
      s"expected >=2 scans of the checkpointed slice relation (the " +
        s"row_number branch and the count ledger) in events_rfm's " +
        s"executed plan; found ${sliced.size} — globalRowPos no longer " +
        "routes its consumers through the checkpointed relation")
    val ids = sliced.map(_.rdd.id).distinct
    assert(ids.size == 1,
      s"globalRowPos consumers scan ${ids.size} distinct RDDs ($ids); " +
        "slice boundaries can diverge between branches")
  }

  test("globalRowPos positions survive spark.sql.exchange.reuse=false") {
    // The r10 design leaned on ReuseExchange to materialize the range
    // shuffle once; the r11 checkpoint makes determinism structural.
    // Pin that: with exchange reuse OFF entirely, events_rfm must
    // produce the identical relation (same quintiles, same segments).
    val before = spark.conf.get("spark.sql.exchange.reuse", "true")
    val on =
      try {
        spark.conf.set("spark.sql.exchange.reuse", "true")
        Analytics.eventsRfm(spark, sf).collect().toSet
      } finally spark.conf.set("spark.sql.exchange.reuse", before)
    val off =
      try {
        spark.conf.set("spark.sql.exchange.reuse", "false")
        Analytics.eventsRfm(spark, sf).collect().toSet
      } finally spark.conf.set("spark.sql.exchange.reuse", before)
    assert(on == off,
      s"events_rfm diverges when exchange reuse is disabled: " +
        s"${(on diff off).take(3)} vs ${(off diff on).take(3)}")
  }

  test("two-phase rank quintiles agree with a literal ntile window (rfm)") {
    // Semantics pin: the arithmetic ntileAt + globalRowPos path must
    // reproduce SQL ntile exactly, verified here against Spark's own
    // ntile on the same per-user relation (the DuckDB oracle pins the
    // cross-engine face; this pins the in-engine equivalence).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = Analytics.eventsRfm(spark, sf)
      .select("user_id", "r_score", "f_score", "m_score")
    // The fixture's ts is parquet timestamp[us] (NTZ) — normalize to
    // session-TZ TIMESTAMP exactly as Analytics.events does, so the
    // model's recency arithmetic sees the same instants as the engine.
    val per = got.sparkSession.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(col("user_id")).agg(
        max(col("ts")).as("t_last"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("frequency"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("monetary_c"))
    val anchor = per.agg(max(col("t_last")).as("t_max"))
    val want = per.crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("t_max").cast("date"), col("t_last").cast("date"))
          .cast("long").as("recency_days"),
        col("frequency"), col("monetary_c"))
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency_days").desc, col("user_id"))).cast("long"))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("frequency"), col("user_id"))).cast("long"))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monetary_c"), col("user_id"))).cast("long"))
      .select("user_id", "r_score", "f_score", "m_score")
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "two-phase quintiles diverge from the ntile window model")
  }

  test("corpus_shard_read touches one corpus scan plus the materialized rank") {
    // The shard consumer's contract: payload I/O proportional to the
    // SHARD, not the corpus. In the executed plan that means exactly
    // one parquet scan of documents (the text-carrying payload leg,
    // joined AFTER the 1/16 position filter) — the rank side must scan
    // the already-checkpointed slice relation, not re-scan the corpus.
    val df = operators.Curate.corpusShardRead(spark, sf)
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val deeper = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: deeper.flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val fileScans = nodes.collect { case f: FileSourceScanExec => f }
    assert(fileScans.size == 1,
      s"expected ONE parquet scan (the payload leg); got ${fileScans.size}: " +
        fileScans.map(_.schema.fieldNames.mkString("[", ",", "]")).mkString(" "))
    assert(fileScans.head.schema.fieldNames.contains("text"),
      "the single corpus scan must be the text-carrying payload leg")
    val rankScans = nodes.collect { case r: RDDScanExec => r }
      .filter(_.output.exists(_.name.startsWith("__slice_")))
    assert(rankScans.nonEmpty,
      "rank side must read the checkpointed slice relation")
  }

  test("dq_drift is one events scan feeding O(buckets) state") {
    val plan = planOf(graft.operators.Maintain.dqDrift(spark, sf))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one scan, got $scans:\n$plan")
  }

  test("ml_target_encode: every join is broadcast, no fact-sized shuffle join") {
    val plan = planOf(Analytics.mlTargetEncode(spark, sf))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fact must only meet broadcasts:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected the dim + stats broadcasts:\n$plan")
  }

  test("join_asof_nearest is join-free: both frames ride one window sort") {
    val plan = planOf(Analytics.joinAsofNearest(spark, sf))
    assert(!plan.contains("Join"), s"nearest-as-of should be join-free:\n$plan")
    // both frames share the user-keyed sort: exactly one exchange
    // below the presentation sort
    val body = plan.split("TakeOrderedAndProject|Sort \\[user_id").last
    assert("Exchange hashpartitioning".r.findAllIn(body).length <= 1,
      s"both frames must share one user-keyed exchange:\n$plan")
  }

  test("ml_pit_features: the cutoff fan-out is a Generate, not a join per cutoff") {
    val plan = planOf(Analytics.mlPitFeatures(spark, sf))
    assert(plan.contains("Generate explode"),
      s"expected the bounded explode fan-out:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product allowed:\n$plan")
  }

  test("sample_quota: the quota ledger broadcasts, ranking is TopKPerGroup") {
    val plan = planOf(operators.Curate.sampleQuota(spark, sf))
    assert(plan.contains("TopKPerGroup"),
      s"expected the custom top-k operator, not a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"quota ledger must broadcast into the cut:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join belongs here:\n$plan")
  }

  test("stream_topk ranks the daily aggregate via TopKPerGroup, no global window") {
    val plan = planOf(graft.streaming.EventStreams.streamTopk(spark, sf))
    assert(plan.contains("TopKPerGroup"), s"expected TopKPerGroup:\n$plan")
    assert(!plan.contains("RunningWindowFunction"),
      s"no window rank over the aggregate:\n$plan")
  }

  test("split_dedup_aware: both component-map joins broadcast into the scan") {
    val plan = planOf(operators.Curate.splitDedupAware(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2,
      s"component and rep-bucket maps must both broadcast, got $broadcasts:\n$plan")
  }

  test("tokenize_wordpiece matches via a codegen'd expression, not a typed loop") {
    val df = graft.operators.TextOps.tokenizeWordpiece(spark, sf)
    // the expression lands inside the aggregate's result projection,
    // which the physical toString elides — read the optimized logical
    // plan for its presence, the physical plan for the absence of any
    // typed-encoder fence
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("wordpiece_seg"),
      s"expected the codegen'd matcher expression:\n$logical")
    val plan = planOf(df)
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"the matcher must not fence the stage behind an encoder round-trip:\n$plan")
  }

  test("pipeline_pretrain_build: composed plan is text-free past the stage scans") {
    val plan = planOf(operators.Curate.pipelinePretrainBuild(spark, sf))
    // every text-carrying scan lives INSIDE its stage (behind that
    // stage's checkpoint), so the composed DAG exchanges only thin
    // materialized relations: no parquet scan and no text column may
    // appear anywhere in the stitched plan — the O(stages), not
    // O(stages·shuffles), guarantee
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride materialized thin relations:\n$plan")
    assert(!plan.contains("text#"),
      s"text must never cross a stage boundary:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
  }

  test("pipeline_media_build: composed plan is blob-free past the stage scans") {
    val plan = planOf(operators.Multimodal.pipelineMediaBuild(spark, sf))
    // blob payloads are read only INSIDE the checkpointed stages
    // (ingest hash, phash signatures, CDC split); the stitched plan
    // exchanges thin id/kind/metadata relations only
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride materialized thin relations:\n$plan")
    assert(!plan.contains("text#"),
      s"blob bytes must never cross a stage boundary:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
  }

  test("pipeline_mm_pretrain: composed plan is payload-free past the stage scans") {
    val plan = planOf(operators.Multimodal.pipelineMmPretrain(spark, sf))
    // both admission legs and the classified spine are checkpointed
    // thin id relations; text/blob payloads are read only inside the
    // parent stages, so the stitched mix+budget plan must exchange
    // materialized thin relations only (the r20 done-criterion's
    // "plan-pinned thin-relation composition")
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride materialized thin relations:\n$plan")
    assert(!plan.contains("text#"),
      s"payloads must never cross a stage boundary:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
  }

  test("pipeline_media_incremental: blob-free composition, delta side broadcast") {
    val df = operators.Multimodal.pipelineMediaIncremental(spark, sf)
    val plan = planOf(df)
    // same stage-isolation contract as the full build: blob payloads
    // are read only inside the checkpointed metadata/signature scans
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride materialized thin relations:\n$plan")
    assert(!plan.contains("text#"),
      s"blob bytes must never cross a stage boundary:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
    // the incremental contract: every standing-corpus join probes a
    // BROADCAST delta relation — the standing side must never build a
    // hash table or sort for the delta (no SortMergeJoin anywhere; at
    // least the digest probe + the two banded candidate joins are
    // broadcast hash joins)
    assert(!plan.contains("SortMergeJoin"),
      s"delta joins must broadcast the batch side, not sort the standing side:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 3, s"expected >=3 broadcast delta joins, got $bhj:\n$plan")
  }

  test("pipeline_frame_build: one corpus scan, canvas-bounded composition") {
    val plan = planOf(operators.Geo.pipelineFrameBuild(spark, sf))
    // the one events scan lives INSIDE the checkpointed day-binning
    // fold; everything stitched after it rides the bounded (day, px,
    // py) relation — zero parquet scans in the composed plan
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride the materialized cell relation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
    // the histogram/shade lookups are broadcast joins on bounded keys
    assert(!plan.contains("SortMergeJoin"),
      s"canvas-bounded lookups must broadcast:\n$plan")
  }

  test("pipeline_frame_build: the render runs inside one frame shuffle, no broadcast") {
    // every action the face runs (the eager checkpoint of its fold, then
    // the write), as executed; the frame shuffle is the one exchange
    // hash-partitioned on dkey alone, and the render past it (spread
    // aggregate, rank window, ledger, stage join) adds no exchange
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = seen.put(qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = seen.put(qe)
    }
    spark.listenerManager.register(listener)
    val plans = try {
      operators.Geo.pipelineFrameBuild(spark, sf)
        .write.format("noop").mode("overwrite").save()
      val marker = spark.range(1)
      marker.collect()
      Iterator.continually(seen.take())
        .takeWhile(qe => !(qe eq marker.queryExecution)).map(_.executedPlan).toList
    } finally spark.listenerManager.unregister(listener)
    object H extends AdaptiveSparkPlanHelper
    def hashKeys(p: SparkPlan): Seq[Seq[String]] =
      H.collectWithSubqueries(p) { case e: ShuffleExchangeLike => e.outputPartitioning }
        .collect { case h: HashPartitioning =>
          h.expressions.map { case a: Attribute => a.name; case e => e.sql } }
    assert(plans.size == 2, s"expected the fold checkpoint and the write:\n${plans.mkString("\n")}")
    val keys = plans.flatMap(hashKeys)
    assert(keys.count(_ == Seq("dkey")) == 1,
      s"expected exactly one frame shuffle on dkey, got $keys:\n${plans.mkString("\n")}")
    assert(hashKeys(plans.last).isEmpty,
      s"the render must run inside the frame shuffle's partitions:\n${plans.last}")
    val broadcasts = plans.flatMap(p =>
      H.collectWithSubqueries(p) { case b: BroadcastExchangeLike => b })
    assert(broadcasts.isEmpty, s"no broadcast in the render chain:\n${plans.mkString("\n")}")
  }

  test("pipeline_frame_incremental: rides the checkpointed fold, broadcast-only composition") {
    val plan = planOf(operators.Geo.pipelineFrameIncremental(spark, sf))
    // one corpus scan lives inside the checkpointed two-leg fold; the
    // affected-day set, both render legs and the skip-accounting
    // constants all ride that bounded relation
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride the materialized cell relation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"canvas-bounded lookups must broadcast:\n$plan")
  }

  test("pipeline_job_build: one corpus scan, manifest rides the checkpointed fold") {
    val plan = planOf(operators.Geo.pipelineJobBuild(spark, sf))
    // the one events scan lives inside the checkpointed (day, px, py)
    // fold (checksum riding the combine); render + manifest windows all
    // read the materialized relation
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride the materialized cell relation:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"expected the checkpointed cell relation:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"canvas-bounded lookups must broadcast:\n$plan")
  }

  test("pipeline_job_incremental: rides the checkpointed two-leg fold, broadcast-only") {
    val plan = planOf(operators.Geo.pipelineJobIncremental(spark, sf))
    assert(!plan.contains("Scan parquet"),
      s"composed stages must ride the materialized cell relation:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"expected the checkpointed cell relation:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product in the composition:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"canvas-bounded lookups must broadcast:\n$plan")
  }

  test("r18 one-scan claims: the new ledger faces fold one scan, broadcast the rest") {
    // every new ledger face folds ONE fact scan map-side onto a bounded
    // relation (day ledger / user firsts / group ledger) and CHECKPOINTS
    // it — the composed plans must be parquet-free past the fold, with
    // no sort-merge or cartesian anywhere
    for ((name, df) <- Seq(
        "table_retention_plan" -> operators.Maintain.tableRetentionPlan(spark, sf),
        "compaction_incremental" -> operators.Maintain.compactionIncremental(spark, sf),
        "stream_uplift" -> streaming.EventStreams.streamUplift(spark, sf),
        "stream_did" -> streaming.EventStreams.streamDid(spark, sf),
        // the cold-start split rides the same checkpointed (user, day)
        // fold as split_temporal
        "split_temporal_cold" -> operators.Curate.splitTemporalCold(spark, sf),
        // both capped rank windows ride the checkpointed bigram fold
        "vocab_drift" -> operators.TextOps.vocabDrift(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("FileScan"),
        s"$name: fact scan escaped the checkpointed fold:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name: expected the materialized bounded relation:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name: no cartesian in the dashboard math:\n$plan")
    }
  }

  test("ann_graph_search walks the persisted edge table, never rebuilds the graph") {
    val plan = planOf(operators.Similarity.annGraphSearch(spark, sf))
    // the index artifact contract: the beam walk's edge relation is a
    // parquet scan of the persisted knn-graph table (built once per
    // corpus signature), not an inline rebuild — the rebuild's
    // signature shape (the cell-keyed shuffle candidate join feeding a
    // per-query rank window) must be absent from the search plan
    assert(plan.contains("graft_knn_graph"),
      s"expected a scan of the persisted knn-graph table:\n$plan")
    // the rebuild would carry the graph's own top-k rank filter
    // (row_number over query partitions inside the edge derivation);
    // the search plan ranks only its final top-K and the beam cuts,
    // all through the TopKPerGroup operator — no window rank at all
    assert(!plan.contains("row_number"),
      s"a window rank in the search plan means the graph was rebuilt inline:\n$plan")
  }

  test("ann_graph_upsert reads the persisted artifacts, never rebuilds the full graph") {
    val plan = planOf(operators.Similarity.annGraphUpsert(spark, sf))
    // the delta path's edge relation is the persisted base-graph table
    // plus batch-bounded work — the full-graph rebuild's signature (a
    // corpus-wide window rank over the cell-keyed candidate join) must
    // be absent; all ranking rides TopKPerGroup
    assert(plan.contains("graft_knn_base"),
      s"expected a scan of the persisted base-graph table:\n$plan")
    assert(plan.contains("graft_knn_probes"),
      s"expected a scan of the persisted probe metadata:\n$plan")
    assert(plan.contains("graft_ivf_index"),
      s"expected a scan of the persisted IVF postings:\n$plan")
    assert(!plan.contains("row_number"),
      s"a window rank means the graph was rebuilt inline:\n$plan")
    assert(plan.contains("TopKPerGroup"),
      s"merge re-rank must ride the TopKPerGroup operator:\n$plan")
  }

  test("mm_phash is one scan with no exchange before the display sort") {
    val plan = planOf(operators.Multimodal.mmPhash(spark, sf))
    val exchanges = "Exchange".r.findAllIn(plan).length
    // exactly the range-partition exchange of the display orderBy
    assert(exchanges <= 1, s"expected at most the sort exchange:\n$plan")
  }

  test("r14 one-scan claims: grid-fold faces are parquet-free past their checkpoint") {
    // dq_freshness / ml_backtest / stream_quantile fold ONE fact scan
    // into a checkpointed grid; the composed plan downstream must read
    // only the materialized relation (Scan ExistingRDD), never the file
    for ((name, df) <- Seq(
        "dq_freshness" -> operators.Maintain.dqFreshness(spark, sf),
        "ml_backtest" -> Analytics.mlBacktest(spark, sf),
        "stream_quantile" -> streaming.EventStreams.streamQuantile(spark, sf),
        // r16: the forecast ladder's new rungs ride the same
        // checkpointed grid — five models must still be ONE fact scan
        "ml_forecast_select" -> Analytics.mlForecastSelect(spark, sf),
        "stream_forecast" -> streaming.EventStreams.streamForecast(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("FileScan"),
        s"$name: fact scan escaped the checkpoint:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name: expected the checkpointed grid relation:\n$plan")
    }
  }

  test("r17 one-scan claims: the new ledger faces fold one scan, broadcast the rest") {
    // each face is one corpus scan folded map-side to a bounded
    // relation (day ledger / 6x64 registers / source moments); nothing
    // downstream may sort-merge or cartesian, and the fact must be
    // scanned exactly once
    for ((name, df) <- Seq(
        "events_uplift" -> Analytics.eventsUplift(spark, sf),
        "events_ab_bandit" -> Analytics.eventsAbBandit(spark, sf),
        "stream_bandit" -> streaming.EventStreams.streamBandit(spark, sf))) {
      val plan = planOf(df)
      val scans = "FileScan".r.findAllIn(plan).length
      assert(scans == 1, s"$name: expected exactly one fact scan, got $scans:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name: bounded-ledger math must not shuffle-join:\n$plan")
    }
    // the stats merge / Neyman design / tile server all ride a
    // checkpointed bounded artifact (register blocks, moment ledger,
    // pyramid): the composed plans must be parquet-free
    for ((name, df) <- Seq(
        "table_stats_incremental" -> operators.Maintain.tableStatsIncremental(spark, sf),
        "sample_neyman" -> operators.Curate.sampleNeyman(spark, sf),
        "geo_tile_serve" -> operators.Geo.geoTileServe(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("FileScan"),
        s"$name: corpus scan escaped the checkpointed artifact:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name: expected the materialized bounded relation:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
        s"$name: bounded joins must broadcast:\n$plan")
    }
  }

  test("events_paths enumerates trigrams in one fact scan, no self-join") {
    val plan = planOf(Analytics.eventsPaths(spark, sf))
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one events scan, got $scans:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"path mining must not self-join the fact:\n$plan")
  }

  test("corpus_semdedup broadcasts the drop set; no cartesian pair generation") {
    val plan = planOf(operators.Similarity.corpusSemdedup(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"drop set must broadcast into the ledger join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair generation must stay cell-bucketed:\n$plan")
  }

  test("r14 wave 9-11 one-scan claims: fact-fold faces are parquet-free past their checkpoint") {
    for ((name, df) <- Seq(
        "events_survival" -> Analytics.eventsSurvival(spark, sf),
        "events_cohort_ltv" -> Analytics.eventsCohortLtv(spark, sf),
        "events_ab_power" -> Analytics.eventsAbPower(spark, sf),
        "ml_forecast_interval" -> Analytics.mlForecastInterval(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("FileScan"),
        s"$name: fact scan escaped the checkpoint:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name: expected the checkpointed relation:\n$plan")
    }
  }

  test("dedup_containment keeps the jaccard face's join shape: no cartesian") {
    val plan = planOf(operators.Dedup.dedupContainment(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"candidates must come from the shingle-hash join:\n$plan")
  }

  test("r14 wave 19 one-scan claims: ledger faces fold their only fact scan") {
    // events_ab_sequential folds to the checkpointed per-user firsts —
    // everything downstream (ledger windows + the 5-row look join) must
    // read the materialized relation, never the file
    val seqPlan = planOf(Analytics.eventsAbSequential(spark, sf))
    assert(!seqPlan.contains("FileScan"),
      s"events_ab_sequential: fact scan escaped the checkpoint:\n$seqPlan")
    assert(seqPlan.contains("ExistingRDD"),
      s"events_ab_sequential: expected the checkpointed firsts:\n$seqPlan")
    // stream_anomaly / events_did / dq_psi: exactly ONE fact scan each —
    // the prequential windows / the 2x2 fold / the stacked PSI fold all
    // run on the grouped ledger
    for ((name, df) <- Seq(
        "stream_anomaly" -> streaming.EventStreams.streamAnomaly(spark, sf),
        "events_did" -> Analytics.eventsDid(spark, sf),
        "dq_psi" -> operators.Maintain.dqPsi(spark, sf),
        "geo_tile_pyramid" -> operators.Geo.geoTilePyramid(spark, sf))) {
      val plan = planOf(df)
      val scans = "FileScan".r.findAllIn(plan).length +
        "Scan ExistingRDD".r.findAllIn(plan).length
      assert(scans == 1, s"$name: expected exactly one corpus scan, got $scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name: cartesian product:\n$plan")
    }
    // geo_tile_pyramid's 6-level rollup must ride a broadcast, not a
    // shuffled join
    val tilePlan = planOf(operators.Geo.geoTilePyramid(spark, sf))
    assert(tilePlan.contains("BroadcastNestedLoopJoin")
      || tilePlan.contains("BroadcastHashJoin"),
      s"tile rollup must broadcast the zoom relation:\n$tilePlan")
  }

  test("geo_tile_serve checkpoints the unsorted pyramid: no range-partitioned sort") {
    // the server reads tiles through range joins, never in order, so
    // its eager checkpoint must not pay geo_tile_pyramid's orderBy (a
    // range-partition shuffle plus its sampling job)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      operators.Geo.geoTileServe(spark, sf)
      def checkpoints = seen.asScala.toSeq.filter(_._1.toLowerCase.contains("checkpoint"))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (checkpoints.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(checkpoints.size == 1,
        s"expected the pyramid's one eager checkpoint, saw ${seen.asScala.map(_._1)}")
      val plan = checkpoints.head._2
      assert(plan.contains("HashAggregate"), s"pyramid fold missing:\n$plan")
      assert(!plan.toLowerCase.contains("rangepartitioning"),
        s"the checkpoint range-sorts the pyramid:\n$plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("r14 wave 20-21 scan claims: ledger faces stay on their bounded relations") {
    // ml_learning_curve: everything past the checkpointed fold histogram
    // reads the materialized relation — no parquet in the final plan
    val lcPlan = planOf(operators.TextOps.mlLearningCurve(spark, sf))
    assert(!lcPlan.contains("FileScan"),
      s"ml_learning_curve: a scan escaped the histogram checkpoint:\n$lcPlan")
    // sample_dsir: the corpus folds once into the checkpointed (doc,
    // bucket) relation; only the gate's feature scans may remain
    val dsPlan = planOf(operators.Curate.sampleDsir(spark, sf))
    val dsScans = "FileScan".r.findAllIn(dsPlan).length
    assert(dsScans <= 2,
      s"sample_dsir: expected at most the gate's 2 feature scans, got $dsScans:\n$dsPlan")
    // dq_embedding_drift / agg_hll_curve / events_metric_tree: one fact
    // scan each, no cartesian beyond the broadcast config fan-outs
    for ((name, df) <- Seq(
        "dq_embedding_drift" -> operators.Similarity.dqEmbeddingDrift(spark, sf),
        "events_metric_tree" -> Analytics.eventsMetricTree(spark, sf))) {
      val plan = planOf(df)
      val scans = "FileScan".r.findAllIn(plan).length
      assert(scans == 1, s"$name: expected exactly one fact scan, got $scans:\n$plan")
    }
    // agg_hll_curve: the 3-config fan-out must broadcast (never shuffle
    // the distinct-user relation against the config table)
    val hcPlan = planOf(Analytics.aggHllCurve(spark, sf))
    assert(hcPlan.contains("BroadcastNestedLoopJoin")
      || hcPlan.contains("BroadcastHashJoin"),
      s"agg_hll_curve: config fan-out must broadcast:\n$hcPlan")
  }

  test("r14 wave 23-26 scan claims: curve/union/bill faces ride their checkpoints") {
    // agg_quantile_curve / mm_cdc_dedup / geo_spread: the corpus folds
    // ONCE into a checkpointed relation (distinct-cents / chunk refs /
    // raster); every downstream leg — 3-width fan-out, owner fold,
    // 9-offset spread — must read the materialized relation only
    for ((name, df) <- Seq(
        "agg_quantile_curve" -> Analytics.aggQuantileCurve(spark, sf),
        "mm_cdc_dedup" -> operators.Multimodal.mmCdcDedup(spark, sf),
        "geo_spread" -> operators.Geo.geoSpread(spark, sf))) {
      val plan = planOf(df)
      assert(!plan.contains("FileScan"),
        s"$name: a corpus scan escaped the checkpoint:\n$plan")
      assert(plan.contains("ExistingRDD"),
        s"$name: expected the checkpointed relation:\n$plan")
    }
    // agg_countmin_union: the checkpointed per-user fold plus EXACTLY
    // the one deliberate direct re-scan (the independent cross-check)
    val cmPlan = planOf(Analytics.aggCountMinUnion(spark, sf))
    val cmScans = "FileScan".r.findAllIn(cmPlan).length
    assert(cmScans == 1,
      s"agg_countmin_union: expected only the direct face's scan, got $cmScans:\n$cmPlan")
    assert(cmPlan.contains("ExistingRDD"),
      s"agg_countmin_union: expected the checkpointed user fold:\n$cmPlan")
    // text_zipf_fit: one corpus scan; the rank/bucket windows ride the
    // vocab relation
    val zPlan = planOf(operators.TextOps.textZipfFit(spark, sf))
    assert("FileScan".r.findAllIn(zPlan).length == 1,
      s"text_zipf_fit: expected exactly one corpus scan:\n$zPlan")
    // stream_ewma keeps the gap-fill family's two-read shape (hourly
    // fold + bounds) and must not grow beyond it
    val ePlan = planOf(streaming.EventStreams.streamEwma(spark, sf))
    assert("FileScan".r.findAllIn(ePlan).length <= 2,
      s"stream_ewma: scan count grew past the family shape:\n$ePlan")
    // dedup_keep_best: labels come out of the loop checkpointed; the
    // quality/source joins may scan documents but never cartesian
    val kbPlan = planOf(operators.Dedup.dedupKeepBest(spark, sf))
    assert(!kbPlan.contains("CartesianProduct"),
      s"dedup_keep_best: cartesian product:\n$kbPlan")
    assert("FileScan".r.findAllIn(kbPlan).length <= 3,
      s"dedup_keep_best: more scans than the quality+source joins explain:\n$kbPlan")
  }

  test("pipeline_feature_build composes stages without re-touching raw events") {
    // the composed matrix must read only the checkpointed (user, day,
    // type) ledger (and the checkpointed base) — zero parquet scans in
    // the final plan, encoding joined by broadcast
    val plan = planOf(Analytics.pipelineFeatureBuild(spark, sf))
    assert(!plan.contains("FileScan"),
      s"pipeline_feature_build: a stage re-scanned the fact:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"pipeline_feature_build: expected the checkpointed ledger:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"pipeline_feature_build: encoding join must broadcast:\n$plan")
  }

  test("a components round joins the keyed edges and labels in place") {
    // graph_bfs runs the components loop, then its own, over one set of
    // src-keyed edges; each round's state is keyed on id. A components
    // round (the one with the pointer-doubling lookup on l1) joins edges
    // and labels on src = id with no exchange beneath that join, and
    // shuffles only for the dst aggregate, the lookup and the re-key on
    // id; a BFS round's left join lands on id already, so it shuffles
    // for the dst aggregate alone. Plans as planned (adaptive plans
    // before re-planning), like `graft.Tool explain`.
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val rounds = Tool.actionsOf(spark)(Tool.runToNoop(spark, sf, "graph_bfs")).collect {
      case ("localCheckpoint", qe) => qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    }
    def names(es: Seq[Expression]): Seq[String] =
      es.map { case a: Attribute => a.name; case e => e.sql }
    def inPlace(p: SparkPlan): Seq[BaseJoinExec] = p.collect {
      case j: BaseJoinExec if names(j.leftKeys) == Seq("src") && names(j.rightKeys) == Seq("id") => j
    }
    def hashKeys(p: SparkPlan): Seq[Seq[String]] =
      p.collect { case e: ShuffleExchangeLike => e.outputPartitioning }
        .collect { case h: HashPartitioning => names(h.expressions) }
    val (components, bfs) = rounds.filter(inPlace(_).nonEmpty).partition(hashKeys(_).contains(Seq("l1")))
    assert(components.nonEmpty && bfs.nonEmpty,
      s"expected components and BFS rounds among:\n${rounds.mkString("\n")}")
    for (p <- components ++ bfs; j <- inPlace(p))
      assert(j.collect { case e: Exchange => e }.isEmpty, s"an exchange beneath the src = id join:\n$p")
    for (p <- components)
      assert(hashKeys(p).toSet == Set(Seq("dst"), Seq("l1"), Seq("id")), s"components round:\n$p")
    for (p <- bfs)
      assert(hashKeys(p) == Seq(Seq("dst")), s"BFS round:\n$p")
  }

  test("the benchmark's geo_job and corpus_churn keys stay within their action counts") {
    // every action is a driver-synchronized job round; the ceilings are
    // the counts `graft.Tool explain` reports for a fresh session on
    // this corpus (an artifact an earlier test already built only
    // lowers a count). pipeline_pretrain_build reads textQualityShared.
    val ceilings = Seq(
      "map_fanout" -> 1, "pipeline_frame_build" -> 2, "pipeline_job_build" -> 2,
      "reduce_assemble" -> 1, "pipeline_frame_incremental" -> 2,
      "pipeline_job_incremental" -> 2, "geo_frame_churn" -> 1,
      "pipeline_pretrain_build" -> 10, "dedup_minhash_lsh" -> 1,
      "dedup_span_exact" -> 1, "graph_components_incremental" -> 7,
      "tokenize_fertility" -> 1)
    val over = ceilings.flatMap { case (key, most) =>
      val n = Tool.actionsOf(spark)(Tool.runToNoop(spark, sf, key)).size
      if (n > most) Some(s"$key: $n actions (ceiling $most)") else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("no geo_job key plans a range-partitioned exchange") {
    // the O(days) ledgers sort inside one partition: a range exchange
    // samples its input first, and so runs everything beneath it twice
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val ranged = for {
      key <- Seq("map_fanout", "pipeline_frame_build", "pipeline_job_build",
        "reduce_assemble", "pipeline_frame_incremental", "pipeline_job_incremental",
        "geo_frame_churn")
      ((action, qe), n) <- Tool.actionsOf(spark)(Tool.runToNoop(spark, sf, key)).zipWithIndex
      plan = Tool.planned(qe)
      if plan.collectWithSubqueries {
        case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.nonEmpty
    } yield s"$key action ${n + 1} ($action):\n$plan"
    assert(ranged.isEmpty, ranged.mkString("\n"))
  }

  test("a stable checkpoint takes a loop result as is") {
    // a loop's last state only renames columns of its last round's
    // checkpoint: checkpointing it again (SharedRel memoizes the
    // components loops) would copy the blocks for nothing
    import graft.plans.{Checkpoints, SharedRel}
    import org.apache.spark.sql.functions.{col, least}
    val init = spark.range(8).select(col("id"), (col("id") + 1).as("label"))
    val loop = Checkpoints.fixpoint("stableSpec", init, "id", "label", "next") { st =>
      st.select(col("id"), col("label"), least(col("label"), col("id")).as("next"))
    }
    assert(Checkpoints.stable(loop) eq loop, "a projection of a checkpoint was checkpointed again")
    val sig = System.nanoTime().toString
    assert(SharedRel(spark, "stableSpec|loop", sig)(loop) eq loop)
    val actions = Tool.actionsOf(spark)(SharedRel(spark, "stableSpec|loop2", sig)(
      loop.select(col("label").as("l"), col("id"))))
    assert(actions.isEmpty, s"a renamed loop result ran ${actions.size} actions")
    // anything that computes is still materialized
    for (df <- Seq(loop.filter(col("id") > 3), loop.select((col("label") + 1).as("l")),
        spark.range(3).toDF("id")))
      assert(!(Checkpoints.stable(df) eq df), s"not checkpointed:\n${df.queryExecution.analyzed}")
  }

  test("SessionMemo keys every artifact kind per session and keeps one entry per id") {
    import graft.plans.{SessionMemo, SharedRel}
    import org.apache.spark.sql.SparkSession
    // the three kinds the registry serves: driver-side values (trained
    // models, counts), checkpointed relations (SharedRel) and persisted
    // catalog tables; each call reports whether it built
    var built = 0
    val values = new SessionMemo[Array[Byte]]
    def value(s: SparkSession, sig: String): AnyRef =
      values(s, "psSpec|value", sig) { built += 1; new Array[Byte](1 << 20) }
    def relation(s: SparkSession, sig: String): AnyRef =
      SharedRel(s, "psSpec|relation", sig) { built += 1; s.range(3).toDF("id") }
    def tables(s: SparkSession, id: String, sig: String): Seq[String] =
      SessionMemo.tables(s, "psSpec", id, sig, "graft_psspec_a_", "graft_psspec_b_") { names =>
        built += 1
        names.foreach(n => s.range(3).write.format("parquet").saveAsTable(n))
      }
    def builds(call: => Any): Int = { val b0 = built; call; built - b0 }
    // a newSession() clone (own SQLConf, shared context) gets its OWN
    // entries — a relation plans under the session that built it, so
    // serving the original session's would leak its conf
    val iso = spark.newSession()
    Seq[(String, (SparkSession, String) => Any)](
      "value" -> value, "relation" -> relation, "tables" -> (tables(_, "registry", _))
    ).foreach { case (kind, get) =>
      assert(builds(get(spark, "sig1")) == 1, s"$kind: first touch must build")
      var hit: Any = null
      assert(builds { hit = get(spark, "sig1") } == 0, s"$kind: a hit must not rebuild")
      assert(hit == get(spark, "sig1"), s"$kind: a hit must serve the memoized entry")
      assert(builds(get(iso, "sig1")) == 1,
        s"$kind: a session clone must not be served another session's entry")
      assert(builds(get(spark, "sig2")) == 1, s"$kind: a new signature must rebuild")
      assert(builds(get(spark, "sig1")) == 1,
        s"$kind: the new signature must replace the stale entry, not sit beside it")
    }
    assert(relation(iso, "sig1").asInstanceOf[org.apache.spark.sql.DataFrame].sparkSession eq iso,
      "the clone's relation must plan under the clone")
    // one entry per id: the superseded value is released, not retained
    val superseded = new java.lang.ref.WeakReference(value(spark, "sig3"))
    value(spark, "sig4")
    var gcs = 0
    while (superseded.get != null && gcs < 20) { System.gc(); Thread.sleep(50); gcs += 1 }
    assert(superseded.get == null, "the memo still holds a value under a superseded signature")
    // tables: the replaced entry's tables leave the catalog AND the
    // warehouse; another id (another dial value) keeps its tables
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val other = tables(spark, "registry|cells=16", "sig1")
    val old = tables(spark, "registry", "sig1")
    val cur = tables(spark, "registry", "sig2")
    try {
      assert((old ++ other).toSet.size == 4 && old.toSet.intersect(cur.toSet).isEmpty,
        s"ids and signatures must name disjoint tables: $old $other $cur")
      old.foreach { t =>
        assert(!spark.catalog.tableExists(t), s"superseded table $t still in the catalog")
        assert(!fs.exists(new org.apache.hadoop.fs.Path(wh, t)), s"superseded table $t still in the warehouse")
      }
      (cur ++ other).foreach(t => assert(spark.catalog.tableExists(t), s"live table $t dropped"))
      // self-heal: a hit whose tables were dropped externally rebuilds
      spark.sql(s"DROP TABLE ${cur.head}")
      assert(builds(tables(spark, "registry", "sig2")) == 1, "a dead hit must rebuild")
      assert(cur.forall(spark.catalog.tableExists))
    } finally (cur ++ other).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Tables.load memo isolates sessions and replaces on rewrite") {
    val d1 = graft.sources.Tables.load(spark, sf, "nation")
    val d2 = graft.sources.Tables.load(spark, sf, "nation")
    assert(d1 eq d2, "unchanged files must serve the memoized relation")
    val iso = spark.newSession()
    val d3 = graft.sources.Tables.load(iso, sf, "nation")
    assert(!(d3 eq d1) && (d3.sparkSession eq iso),
      "a session clone must get a relation that plans under its own conf")
  }
}
