package graft.text

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  ScalaUDF}
import org.apache.spark.sql.execution.ExecSubqueryExpression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class MixingSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("domain mix: hash-threshold sampling hits target fractions, layout-independent") {
    val docs = graft.Tables.documents(spark, sf0001)
    val mixed = Mixing.domainMix(docs, "lang",
      Map("en" -> 1.0, "de" -> 0.5)).cache()
    // en kept fully, de halved (tolerance for small per-lang counts),
    // every other lang dropped (fraction 0)
    val before = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val after = mixed.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(after("en") === before("en"))
    assert(after.keySet === Set("en", "de"))
    val deRatio = after("de").toDouble / before("de")
    assert(deRatio > 0.25 && deRatio < 0.75, s"de ratio $deRatio")
    // determinism is structural (pure function of doc_id + seed): a
    // repartitioned input must select the IDENTICAL doc set
    val repart = Mixing.domainMix(docs.repartition(13), "lang",
      Map("en" -> 1.0, "de" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(repart === mixed.select("doc_id").as[Long].collect().toSet)
    mixed.unpersist()
  }

  test("group sample: exactly min(n, group size) per group, layout-independent") {
    val docs = graft.Tables.documents(spark, sf0001)
    val out = Mixing.groupSample(docs, "lang", "doc_id", 20).cache()
    val sizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val taken = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(taken.keySet === sizes.keySet)
    taken.foreach { case (l, c) => assert(c === math.min(20L, sizes(l))) }
    // pure function of (doc_id, seed): repartitioned input selects the
    // identical rows with the identical ranks
    val repart = Mixing.groupSample(docs.repartition(13), "lang", "doc_id", 20)
      .as[(Long, String, Long)].collect().toSet
    assert(repart === out.as[(Long, String, Long)].collect().toSet)
    // a different seed re-deals the sample (overwhelmingly likely to
    // differ somewhere on 500 docs)
    val reseed = Mixing.groupSample(docs, "lang", "doc_id", 20, seed = 7L)
      .as[(Long, String, Long)].collect().toSet
    assert(reseed !== out.as[(Long, String, Long)].collect().toSet)
    out.unpersist()
  }

  test("group sample topk twin: row-identical to the window form; " +
      "plan has no window and no full sort") {
    val docs = graft.Tables.documents(spark, sf0001)
    val win = Mixing.groupSample(docs, "lang", "doc_id", 20)
      .as[(Long, String, Long)].collect().toSet
    val heap = Mixing.groupSampleTopK(docs, "lang", "doc_id", 20)
    assert(heap.as[(Long, String, Long)].collect().toSet === win,
      "heap twin selects the identical (doc, rank) set")
    // the twin's point: no WindowExec, no per-group sort — selection
    // runs inside the k-bounded aggregate
    val plan = heap.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the top_k heap aggregate in:\n$plan")
    // layout independence rides the same purity argument as the
    // window form — verified directly
    val repart = Mixing.groupSampleTopK(docs.repartition(13), "lang",
      "doc_id", 20).as[(Long, String, Long)].collect().toSet
    assert(repart === win)
  }

  test("temperature mix: exact thresholds, flattening, layout independence") {
    // power-of-two domain ratios so α=0.5 rates are IEEE-exact:
    // fr is rarest (kept whole); de = sqrt(25/100) = 0.5; en =
    // sqrt(25/400) = 0.25 — thresholds must come out exactly
    val rows = (1 to 400).map(i => (i.toLong, "en")) ++
      (401 to 500).map(i => (i.toLong, "de")) ++
      (501 to 525).map(i => (i.toLong, "fr"))
    val docs = rows.toDF("doc_id", "lang")
    val out = Mixing.temperatureMix(docs, "lang", "doc_id", alpha = 0.5).cache()
    val thr = out.select("lang", "keep_thr").distinct()
      .as[(String, Long)].collect().toMap
    assert(thr === Map("fr" -> 1000000L, "de" -> 500000L, "en" -> 250000L))
    val kept = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("fr") === 25L, "rarest domain is kept whole")
    // binomial(400, .25) and binomial(100, .5): ±4.5σ windows
    assert(kept("en") >= 60 && kept("en") <= 140, s"en kept ${kept("en")}")
    assert(kept("de") >= 28 && kept("de") <= 72, s"de kept ${kept("de")}")
    // flattening: the mix is strictly more balanced than the corpus
    assert(kept("en").toDouble / kept("fr") < 400.0 / 25.0)
    // pure function of (doc_id): repartitioned input keeps the same set
    val repart = Mixing.temperatureMix(docs.repartition(13), "lang",
      "doc_id", alpha = 0.5).select("doc_id").as[Long].collect().toSet
    assert(repart === out.select("doc_id").as[Long].collect().toSet)
    out.unpersist()
  }

  test("temperature mix: alpha=1 is the identity; samples nest as alpha rises") {
    val docs = graft.Tables.documents(spark, sf0001)
    val all = Mixing.temperatureMix(docs, "lang", "doc_id", alpha = 1.0).cache()
    assert(all.count() === docs.count(), "alpha=1 reproduces the corpus")
    assert(all.select("keep_thr").distinct().as[Long].collect().toSeq ===
      Seq(1000000L))
    all.unpersist()
    // one hash draw per doc serves every temperature → the hotter
    // (smaller-α, flatter) sample is a subset of the cooler one
    val cold = Mixing.temperatureMix(docs, "lang", "doc_id", alpha = 0.3)
      .select("doc_id").as[Long].collect().toSet
    val warm = Mixing.temperatureMix(docs, "lang", "doc_id", alpha = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(cold.subsetOf(warm), "α=0.3 sample must nest inside α=0.7")
    assert(cold.size < warm.size, "flattening must actually drop rows")
  }

  /** `body` under the session settings `kv`, each restored (or unset)
    * afterwards. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bloom-prefiltered contamination is row-identical to the exact form") {
    // no false negatives (Bloom) + exact downstream join (kills false
    // positives) => identical verdicts; this is the claim that lets the
    // bloom variant share the exact form's oracle SQL
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val exact = rows(Mixing.contaminationQuery(spark, sf0001))
    assert(rows(Mixing.contaminationBloomQuery(spark, sf0001)) === exact)
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bench = docs.filter($"doc_id" % 10 === 0)
    // a hostile layout: 37 partial filters OR-merged into one, every
    // exchange at 37 partitions with none coalesced away
    val hostile = withConf("spark.sql.shuffle.partitions" -> "37",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      rows(Mixing.contaminationBloom(corpus.repartition(37),
        bench.repartition(37)))
    }
    assert(hostile === exact)
    // a deliberately awful filter: 64 bits (one hash) are saturated by the
    // benchmark shingles, so nearly every corpus hash passes the probe and
    // the exact join alone must drop the false positives
    val loose = withConf(
        "spark.sql.optimizer.runtime.bloomFilter.numBits" -> "64") {
      val df = Mixing.contaminationBloom(corpus, bench)
      val bits = df.queryExecution.analyzed.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect {
          case b: org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate => b.numBitsExpression.eval()
        })
      }.flatten
      assert(bits === Seq(64L), "the one-argument aggregate reads numBits")
      rows(df)
    }
    assert(loose === exact)
    // an empty build side: no bench doc has 3 tokens, so the filter is
    // null and admits nothing, yet every bench doc keeps its verdict row
    val short = Seq((1L, "one"), (2L, "two words"), (3L, ""))
      .toDF("doc_id", "text")
    val emptyBuild = rows(Mixing.contaminationBloom(corpus, short))
    assert(emptyBuild === rows(Mixing.contamination(corpus, short)))
    assert(emptyBuild.map(_.head) === Set(1L, 2L, 3L))
    assert(emptyBuild.forall(r => r(3) == null),
      s"overlap must be null: $emptyBuild")
  }

  test("bloom contamination builds as one lazy plan: no eager job, " +
      "a subquery-fed codegen probe, no Scala UDF") {
    val (df, jobs) = countJobs(Mixing.contaminationBloomQuery(spark, sf0001))
    assert(jobs === 0, "building the query must launch no Spark job")
    val plan = df.queryExecution.executedPlan
    val exprs = collectWithSubqueries(plan) { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    assert(exprs.exists {
      case m: BloomFilterMightContain =>
        m.bloomFilterExpression.isInstanceOf[ExecSubqueryExpression]
      case _ => false
    }, s"expected might_contain fed by a subquery in:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[ScalaUDF]), s"Scala UDF in:\n$plan")
    // source guard: the driver-side filter, its broadcast and the UDF
    // probe stay gone
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/text/Mixing.scala")),
      "UTF-8")
    Seq("stat.bloomFilter(", "mightContainLong", "sparkContext.broadcast(")
      .foreach(t => assert(!src.contains(t), s"Mixing.scala contains $t"))
  }

  test("contamination: planted cross-split near-dups are flagged, clean docs are not") {
    // benchmark = doc_id % 10 == 0; the corpus contains mutated
    // near-dup copies of some benchmark docs (planted by the driver
    // data), which share most shingles -> high overlap for those docs
    val out = Mixing.contaminationQuery(spark, sf0001).cache()
    val nBench = graft.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 === 0).count()
    assert(out.count() === nBench) // every bench doc gets a verdict row
    // shingle-less docs (< 3 tokens) must report null ("unknown"), never
    // a false "clean"
    val shortDocs = out.filter($"n_shingles" === 0)
    assert(shortDocs.filter($"contaminated".isNotNull).count() === 0)
    assert(out.filter($"contaminated").count() > 0,
      "planted cross-split dups should contaminate")
    assert(out.filter(!$"contaminated").count() > 0,
      "not every bench doc is a dup")
    // contaminated docs really do share a near-dup pair across the split
    val pairs = NearDup.minhashNeardupFast(spark, sf0001)
      .select("d1", "d2").as[(Long, Long)].collect()
    val crossSplit = pairs.collect {
      case (a, b) if a % 10 == 0 && b % 10 != 0 => a
      case (a, b) if b % 10 == 0 && a % 10 != 0 => b
    }.toSet
    val flagged = out.filter($"contaminated")
      .select("doc_id").as[Long].collect().toSet
    assert(crossSplit.subsetOf(flagged),
      s"near-dup bench docs missing from contamination: ${crossSplit -- flagged}")
    out.unpersist()
  }
}
