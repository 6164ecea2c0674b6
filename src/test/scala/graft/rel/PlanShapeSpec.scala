package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

/** Pins the plan-shape properties the round-2 rewrites bought — the
  * structures that decide whether an operator survives a 100× scale-up:
  * the as-of join must stay join-free (one windowed pass), and no
  * near-dup/dedup path may plan a cartesian/broadcast-nested-loop or a
  * corpus-sized build side.
  */
class PlanShapeSpec extends SparkSpec {

  private def optimizedJoins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  private def finalPhysical(df: DataFrame): String = {
    // an action on THIS Dataset settles its own AdaptiveSparkPlanExec;
    // (a noop write would execute a separate QueryExecution and leave
    // df's plan in its initial, pre-AQE state)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q44 as-of join plans ZERO joins — a single windowed pass") {
    val df = graft.SparkEntry.queries("q44_asof_join")(spark, sf0001)
    assert(optimizedJoins(df).isEmpty,
      s"expected join-free plan:\n${df.queryExecution.optimizedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected a Window operator:\n$plan")
  }

  test("near-dup/dedup paths never plan cartesian or nested-loop joins") {
    for (q <- Seq("nq_minhash_neardup", "q25_neardup_jaccard",
        "nq_lsh_neardup", "nq_simhash_neardup")) {
      val plan = finalPhysical(graft.SparkEntry.queries(q)(spark, sf0001))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join:\n$plan")
    }
  }

  test("q68 chunk dedup plans a PARTIAL min per chunk hash, never a window over it") {
    val df = graft.SparkEntry.queries("q68_chunk_dedup")(spark, sf0001)
    val plan = finalPhysical(df)
    // the skew-proof property: first-occurrence-per-hash must come from
    // an aggregate WITH map-side combine (a boilerplate chunk repeated
    // millions of times collapses to one row per map partition before
    // the exchange); a row_number window over the hash key has no
    // partial phase and funnels every copy into one un-splittable task
    assert(plan.contains("partial_min"),
      s"expected a partial min aggregate on the chunk hash:\n$plan")
    assert(!plan.contains("Window"),
      s"chunk dedup must not plan a window over the chunk hash:\n$plan")
  }

  test("q73 substr dedup: partial-min winners; windows per-document, never per-hash") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.SparkEntry.queries("q73_substr_dedup")(spark, sf0001)
    // span merging windows must be partitioned by doc_id (bounded by one
    // document's grams) — a window keyed on the gram hash would funnel a
    // boilerplate gram's millions of copies into one un-splittable task
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "span merging should plan windows") // non-vacuity
    wins.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      assert(parts === Set("doc_id"),
        s"windows must partition by doc_id only, got $parts")
    }
    val plan = finalPhysical(df)
    // same skew-proof property as q68: first-occurrence-per-hash comes
    // from an aggregate WITH a map-side partial phase (hot grams collapse
    // per partition before the exchange)
    assert(plan.contains("partial_min"),
      s"winners must be a partial-combining min aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q74 temperature mix: rates broadcast; the corpus side never shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val df = graft.SparkEntry.queries("q74_temperature_mix")(spark, sf0001)
    val plan = finalPhysical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"the domain-cardinality rate table must broadcast:\n$plan")
    // the only aggregates are the domain count pass and its min — both
    // domain-cardinality-sized; the corpus itself must reach the filter
    // through scan + broadcast join only (no corpus-keyed exchange)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.forall(
      _.references.forall(_.name == "lang"))),
      "aggregates must group by the domain column (or globally) only")
  }

  test("ccnet approx buckets: thresholds broadcast, no per-language total order") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = graft.SparkEntry.queries("nq_ccnet_buckets")(spark, sf0001)
    // the whole point of the approx path: bucket assignment must NOT
    // rank within language (a corpus-dominating language would funnel
    // into one reducer) — thresholds come from a mergeable sketch agg
    // and broadcast back. The upstream LM's conditional-probability
    // window (partitioned by w1, vocab-bounded) is legitimate, so only
    // LANGUAGE-partitioned windows are forbidden.
    def langWindows(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect { case w: LWindow
        if w.partitionSpec.exists(_.references.exists(_.name == "lang")) => w }
    assert(langWindows(df).isEmpty,
      s"approx path must not rank within language:\n${langWindows(df)}")
    val plan = finalPhysical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold table should broadcast:\n$plan")
    // and the exact form DOES rank per language (non-vacuity: the two
    // paths genuinely differ in shape, not just in numbers)
    val exact = graft.SparkEntry.queries("q77_ccnet_buckets")(spark, sf0001)
    assert(langWindows(exact).nonEmpty)
  }

  test("ccnet exact buckets: one window pass, never a self-join of the scored input") {
    // the round-9 rewrite's property: bucket assignment is row-local
    // given (rank, group count) from ONE lang-partitioned window pass —
    // the previous filter + join-back formulation re-evaluated the whole
    // upstream LM-scoring pipeline once per join branch
    import spark.implicits._
    val scored = Seq((1L, "en", Some(0.5)), (2L, "en", Some(0.7)),
        (3L, "en", Some(0.9)), (4L, "de", Some(0.4)),
        (5L, "en", Option.empty[Double]))
      .toDF("doc_id", "lang", "avg_nll")
    val df = graft.text.TrainPrep.ccnetBuckets(scored)
    assert(optimizedJoins(df).isEmpty,
      s"bucket assignment must not join the scored input to itself:\n" +
        s"${df.queryExecution.optimizedPlan}")
    // null-score rows keep their row with a null bucket ("unknown")
    val out = df.collect().map(r => r.getLong(0) ->
      Option(r.getString(3))).toMap
    assert(out(5L).isEmpty, "unscored doc must stay with a null bucket")
    assert(out(1L).contains("head") && out(2L).contains("middle") &&
      out(3L).contains("tail") && out(4L).contains("head"))
  }

  test("q76 substr cut: per-doc span arrays, no cartesian or nested-loop joins") {
    val plan = finalPhysical(
      graft.SparkEntry.queries("q76_substr_cut")(spark, sf0001))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_min"),
      s"shares q73's partial-combining winners aggregate:\n$plan")
  }

  test("q59 vocab top-k plans TakeOrdered, never a global sort of the vocabulary") {
    val plan = finalPhysical(
      graft.SparkEntry.queries("q59_vocab_topk")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k over the vocabulary must be a TakeOrdered (per-partition " +
        s"heaps + driver merge of k rows), not sort-then-limit:\n$plan")
  }

  test("q05 star join broadcasts the dimension sides") {
    val plan = finalPhysical(
      graft.SparkEntry.queries("q05_nation_revenue")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"dims should broadcast-hash-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  /** Joins whose hint forces a BUILD-SIDE-IN-MEMORY strategy (BROADCAST,
    * or the replicating SHUFFLE_REPLICATE_NL) on a side that can exceed
    * one row. Scale-SAFE strategy hints (SHUFFLE_MERGE, SHUFFLE_HASH)
    * are deliberately NOT flagged — they pick among shuffled plans and
    * carry no OOM risk, so hinting them on a scaling table is legal.
    *
    * Collected from the OPTIMIZED plan: in the analyzed plan hints are
    * still ResolvedHint wrapper nodes and Join.hint is JoinHint.NONE —
    * EliminateResolvedHint only folds them into Join.hint during
    * optimization, so an analyzed-plan check passes vacuously.
    */
  private def hintedNonSingletonSides(df: DataFrame) = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, SHUFFLE_REPLICATE_NL}
    def risky(h: HintInfo): Boolean =
      h.strategy.contains(BROADCAST) || h.strategy.contains(SHUFFLE_REPLICATE_NL)
    df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right)
          .collect { case (Some(h), child)
            if risky(h) && !child.maxRows.contains(1L) => child }
    }.flatten
  }

  test("hint collector catches a real broadcast hint (non-vacuity control)") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val a = spark.range(10).toDF("id")
    val b = spark.range(10).toDF("id2")
    val bad = a.join(broadcast(b), col("id") === col("id2"))
    assert(hintedNonSingletonSides(bad).nonEmpty,
      "collector failed to flag an explicit broadcast of a 10-row relation " +
        "— the guards below would be asserting nothing")
    // and the single-row escape really does exempt global aggregates
    val nDocs = b.agg(org.apache.spark.sql.functions.count(col("id2")).as("n"))
    val ok = a.crossJoin(broadcast(nDocs))
    assert(hintedNonSingletonSides(ok).isEmpty,
      "maxRows==1 escape must exempt broadcast global aggregates")
    // scale-safe strategy hints are not broadcasts and must pass: a
    // SHUFFLE_MERGE hint on a scaling table picks among shuffled plans
    // (no in-memory build side), so flagging it would make the guard
    // cry wolf with a misleading 'broadcast' message
    val merged = a.join(b.hint("shuffle_merge"), col("id") === col("id2"))
    assert(hintedNonSingletonSides(merged).isEmpty,
      "SHUFFLE_MERGE hint wrongly flagged as an OOM-risk hint")
  }

  test("no text-family query force-broadcasts a corpus-derived relation") {
    // Anything that grows with the corpus (per-doc sizes, per-term df,
    // shingle index …) must reach joins unhinted — AQE broadcasts it when
    // actually small. The only legitimate hints are provably-single-row
    // relations (global aggregates like nDocs), which Catalyst knows via
    // maxRows == 1.
    for ((name, fn) <- graft.text.TextQueries.queries) {
      val offending = hintedNonSingletonSides(fn(spark, sf0001))
      assert(offending.isEmpty,
        s"$name broadcast-hints a relation that can exceed one row:\n" +
          offending.mkString("\n---\n"))
    }
  }

  test("no rel-family query force-broadcasts an SF-scaling relation") {
    // customer/supplier/orders/lineitem/part grow with the scale factor —
    // at the 100 TB target customer alone is ~15 B rows, so an explicit
    // broadcast hint on any relation derived from them OOMs the build
    // side where a hint-free plan lets AQE pick SMJ. Constant-size tables
    // (nation 25, region 5), literal band tables (LocalRelation) and
    // single-row aggregates (maxRows == 1) remain legitimately hinted.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scaling = Seq("customer", "supplier", "orders", "lineitem", "part",
      "events", "documents", "embeddings")
    def scalingPaths(paths: Seq[String]): Seq[String] =
      paths.filter(p => scaling.exists(t =>
        p.endsWith(s"/$t.parquet") || p.contains(s"/$t.parquet/")))
    def offendingLeaves(side: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      side.collectLeaves().flatMap {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            scalingPaths(fs.location.rootPaths.map(_.toString))
          case _ => Nil
        }
        // a cached scan hides the file source one level down, inside the
        // physical plan the cache was built from — walk it, or a
        // `.cache()`d SF-scaling table escapes the guard entirely
        case imr: InMemoryRelation =>
          scalingPaths(imr.cachedPlan.collect {
            case f: FileSourceScanExec =>
              f.relation.location.rootPaths.map(_.toString)
          }.flatten)
        // literal driver-side data (the band tables): bounded by
        // construction, legitimately broadcastable
        case _: LocalRelation => Nil
        case l if l.maxRows.contains(1L) => Nil
        // anything else (a LogicalRDD from a checkpoint, a range, ...)
        // cannot be traced back to a table — flag it conservatively
        // rather than let an SF-scaling scan slip through behind a
        // checkpoint boundary
        case other => Seq(s"untraceable ${other.nodeName} leaf")
      }
    // non-vacuity controls: the detector must flag deliberate offenders
    locally {
      import org.apache.spark.sql.functions.{broadcast, col}
      val bad = graft.Tables.lineitem(spark, sf0001)
        .join(broadcast(graft.Tables.customer(spark, sf0001)),
          col("l_orderkey") === col("c_custkey"))
      assert(hintedNonSingletonSides(bad).flatMap(offendingLeaves).nonEmpty,
        "detector failed to flag an explicit broadcast of customer — " +
          "the per-query assertions below would be vacuous")
      // and the same offender behind a cache: the broadcast side is now
      // an InMemoryRelation leaf, which a LogicalRelation-only walk
      // would silently exempt
      val cached = graft.Tables.customer(spark, sf0001).cache()
      try {
        cached.count() // materialize so the cache substitutes into plans
        val badCached = graft.Tables.lineitem(spark, sf0001)
          .join(broadcast(cached), col("l_orderkey") === col("c_custkey"))
        assert(
          hintedNonSingletonSides(badCached).flatMap(offendingLeaves).nonEmpty,
          "detector failed to flag a broadcast of a CACHED customer scan")
      } finally cached.unpersist(blocking = true)
    }
    for ((name, fn) <- graft.rel.RelQueries.queries) {
      val offending =
        hintedNonSingletonSides(fn(spark, sf0001)).flatMap(offendingLeaves)
      assert(offending.isEmpty,
        s"$name broadcast-hints a relation scanning an SF-scaling table: " +
          offending.mkString(", "))
    }
  }

  test("minhash verify joins are equi-joins on doc ids (no explicit corpus broadcast)") {
    val df = graft.text.NearDup.minhashNeardupFast(spark, sf0001)
    val joins = optimizedJoins(df)
    assert(joins.nonEmpty)
    // every join must carry an equi condition (hashable keys), and no
    // join may force-broadcast a side that grows with the corpus
    // (checked on the optimized plan — see hintedNonSingletonSides)
    assert(hintedNonSingletonSides(df).isEmpty,
      "near-dup verify must not force broadcast hints")
  }

  test("semantic dedup candidate join stays an equi-join, corpus side unhinted") {
    // the leaf-path key is what keeps pair volume at Σ n_c² — if the
    // cluster condition ever degenerates to a non-equi predicate the
    // planner falls back to BNLJ/cartesian and the operator is corpus²
    for (q <- Seq("nq_semantic_dedup", "nq_semantic_dedup_inc")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      val plan = finalPhysical(df)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join:\n$plan")
      assert(hintedNonSingletonSides(df).isEmpty,
        s"$q force-broadcasts a corpus-derived relation")
    }
  }

  test("heavy-hitter store read plans a map-side-combined verify, no corpus window") {
    // the read path's whole point: ONE exact aggregate whose shuffle
    // carries ≤ k+1 groups. That requires a partial (map-side) phase on
    // the corpus scan — and the only Window allowed is the one over the
    // already-aggregated candidate rows, never the corpus tokens
    val dir = java.nio.file.Files.createTempDirectory("graft-hh-plan")
    try {
      import spark.implicits._
      val store = dir.resolve("hh").toString
      val corpus = Seq((0L, "hot hot hot warm tail1 tail2"))
        .toDF("doc_id", "text")
      graft.streaming.StreamingOps
        .applyHeavyHitterBatch(corpus, 0L, "L", store, 8)
      val df = graft.streaming.StreamingOps
        .heavyHittersFromStore(corpus, store, 8, 0.2)
      val plan = finalPhysical(df)
      assert(plan.contains("partial_count"),
        s"exact verify must map-side combine the corpus tokens:\n$plan")
      // the corpus-total side must be a broadcast 1-row global aggregate,
      // never a window (a no-partition WindowExec is one reducer) — so
      // the only join allowed is a cross join whose build side is a
      // global (group-less) aggregate
      assert(!plan.contains("Window"),
        s"verify must not plan any window:\n$plan")
      assert(!plan.contains("CartesianProduct"), plan)
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      optimizedJoins(df).foreach { j =>
        def isGlobalAgg(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
          p.collectFirst { case a: Aggregate => a.groupingExpressions.isEmpty }
            .getOrElse(false)
        assert(isGlobalAgg(j.left) || isGlobalAgg(j.right),
          s"only a single-row global-aggregate side may cross join:\n$j")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("bounded top-k ranks plan no Window without a partition spec") {
    // a no-partition window is one task over its whole input, and Spark
    // warns for every one; TopK.ranked numbers its ≤ k survivors without
    // a window, and nq_psi totals its bins with a global aggregate, so
    // any such node here is a regression
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((q, rankCol) <- Seq("q27_zip_position" -> "rn", "q86_bm25" -> "rank",
        "q96_session_paths" -> "rank", "nq_zipf" -> "n_ranks",
        "nq_psi" -> "psi_term")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      assert(df.collect().nonEmpty && df.columns.contains(rankCol), q) // non-vacuity
      val unpartitioned = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(unpartitioned.isEmpty,
        s"$q plans an unpartitioned window:\n$unpartitioned")
    }
  }
}
