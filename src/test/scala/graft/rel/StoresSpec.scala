package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Snapshot (as-of) and batch-range reads over the batch-partitioned
  * store family: a pinned snapshot id always merges the same partials
  * no matter how far the store has moved on, the filter prunes at the
  * partition level, and range reads window the ingest history.
  */
class StoresSpec extends SparkSpec {
  import spark.implicits._

  private def li = graft.Tables.lineitem(spark, sf0001)
  private val groupCols = Seq("l_returnflag", "l_linestatus")

  test("as-of read: a pinned snapshot is immutable under later ingest " +
      "and equals a GROUP BY over the covered raw slices") {
    val dir = java.nio.file.Files.createTempDirectory("asof")
    try {
      val store = dir.resolve("store.parquet").toString
      def slice(b: Int) = li.filter(pmod($"l_orderkey", lit(5)) === b)
      (0 until 3).foreach(b => AggStore.applyBatch(slice(b), groupCols,
        "l_extendedprice", store, b.toLong))
      def asOf(n: Long) = AggStore.mergePartials(
          Stores.readBatches(spark, store, Some(n)).drop("batch_id"),
          groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val snap2 = asOf(2L)
      // the raw-survivors form: snapshot 2 = one GROUP BY over slices 0..2
      val direct = AggStore.mergePartials(
          AggStore.partialBatch(li.filter(pmod($"l_orderkey", lit(5)) <= 2),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(snap2.nonEmpty && snap2 === direct)
      // later ingest must be invisible to the pinned snapshot
      (3 until 5).foreach(b => AggStore.applyBatch(slice(b), groupCols,
        "l_extendedprice", store, b.toLong))
      assert(asOf(2L) === snap2,
        "a pinned snapshot must not move when the store does")
      assert(asOf(4L) !== snap2, "the current read must see new batches")
      // range read: [3,4] partials merge to exactly the late slices
      val window = AggStore.mergePartials(
          Stores.readBatchRange(spark, store, 3L, 4L).drop("batch_id"),
          groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val lateDirect = AggStore.mergePartials(
          AggStore.partialBatch(li.filter(pmod($"l_orderkey", lit(5)) >= 3),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(window === lateDirect)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("the generic snapshot/range views honor the fold watermark: " +
      "readBatches as-of below it and readBatchRange opening at/below it " +
      "fail loudly; at/above both read unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("asof-wmark")
    try {
      val store = dir.resolve("store.parquet").toString
      def slice(b: Int) = li.filter(pmod($"l_orderkey", lit(5)) === b)
      (0 until 5).foreach(b => AggStore.applyBatch(slice(b), groupCols,
        "l_extendedprice", store, b.toLong))
      def asOf(n: Long) = AggStore.mergePartials(
          Stores.readBatches(spark, store, Some(n)).drop("batch_id"),
          groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val snap2 = asOf(2L)
      AggStore.compactThrough(spark, store, groupCols, 2L)
      assert(asOf(2L) === snap2, "as-of AT the watermark must survive")
      val e = intercept[IllegalArgumentException](asOf(1L))
      assert(e.getMessage.contains("fold watermark 2"), e.getMessage)
      // the inclusive range guard: opening AT the watermark would
      // silently include the whole folded history — refuse; opening
      // strictly above reads the true window
      val e2 = intercept[IllegalArgumentException](
        Stores.readBatchRange(spark, store, 2L, 4L))
      assert(e2.getMessage.contains("fold watermark"), e2.getMessage)
      val window = AggStore.mergePartials(
          Stores.readBatchRange(spark, store, 3L, 4L).drop("batch_id"),
          groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val lateDirect = AggStore.mergePartials(
          AggStore.partialBatch(li.filter(pmod($"l_orderkey", lit(5)) >= 3),
            groupCols, "l_extendedprice"), groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(window === lateDirect)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("as-of filter is a partition filter — snapshot reads prune " +
      "directories, they do not scan and discard") {
    val dir = java.nio.file.Files.createTempDirectory("asof-prune")
    try {
      val store = dir.resolve("store.parquet").toString
      (0 until 4).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(4)) === b), groupCols,
        "l_extendedprice", store, b.toLong))
      val df = Stores.readBatches(spark, store, Some(1L))
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "expected a file scan in the plan")
      assert(scans.head.partitionFilters.nonEmpty,
        s"batch_id <= n must reach the scan as a partition filter:\n" +
          df.queryExecution.executedPlan)
      val rowsRead = df.count()
      val allRows = spark.read.parquet(store).count()
      assert(rowsRead < allRows,
        "the pruned snapshot must cover strictly fewer rows")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("describe: one manifest row per batch with true counts, plus " +
      "the adjacent mutation state") {
    val dir = java.nio.file.Files.createTempDirectory("storedesc")
    try {
      val store = dir.resolve("store.parquet").toString
      (0 until 3).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(3)) === b), groupCols,
        "l_extendedprice", store, b.toLong))
      val m0 = Stores.describe(spark, store).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(m0.keySet === Set(0L, 1L, 2L))
      m0.values.foreach { r =>
        assert(r.getLong(1) > 0L && r.getLong(2) === 1L &&
          r.getLong(3) > 0L,
          s"per-batch rows/files/bytes must be real: $r")
        assert(r.getLong(4) === 0L, "no mutation state yet")
      }
      // per-batch row counts must be the truth, not an estimate
      val n1 = spark.read.parquet(store)
        .filter($"batch_id".cast("long") === 1L).count()
      assert(m0(1L).getLong(1) === n1)
      // r19 kind tags: a GATE is not a key erasure — only the key
      // delete counts (gates surface via gatedBatches/maintenancePlan)
      Tombstones.gateBatches(spark, store, Seq(2L), mutationId = 0L)
      Tombstones.applyDelete(Seq(999L).toDF("doc_id"), "doc_id", store,
        batchId = 1L)
      val m1 = Stores.describe(spark, store).collect()
      assert(m1.forall(_.getLong(4) === 1L),
        "the manifest must surface the standing key erasures, and " +
          "gates must not inflate the count")
      // fold watermark: null until a compaction folds, then its value
      assert(m1.forall(_.isNullAt(5)),
        "a never-compacted store has no fold watermark")
      Tombstones.ungateBatch(spark, store, 2L)
      AggStore.compactThrough(spark, store, groupCols, 1L)
      val m2 = Stores.describe(spark, store).collect()
      assert(m2.nonEmpty && m2.forall(_.getLong(5) === 1L),
        "the manifest must surface the fold watermark")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("maintenancePlan: one call surfaces batch extents, watermark " +
      "distance, gates, and tombstone volume for a flat store") {
    val dir = java.nio.file.Files.createTempDirectory("maintplan")
    try {
      val store = dir.resolve("store.parquet").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b), groupCols,
        "l_extendedprice", store, b.toLong))
      def plan() = Stores.maintenancePlan(spark, store).collect().head
      val p0 = plan()
      assert(p0.getAs[Long]("n_batches") === 5L)
      assert(p0.getAs[Long]("min_batch_id") === 0L &&
        p0.getAs[Long]("max_batch_id") === 4L)
      assert(p0.isNullAt(p0.fieldIndex("fold_watermark")),
        "never compacted -> no watermark")
      assert(p0.getAs[Long]("n_batches_above_watermark") === 5L,
        "never compacted -> ALL history is un-folded")
      assert(p0.getAs[scala.collection.Seq[Long]]("gated_batches")
        .isEmpty && p0.getAs[Long]("n_tombstoned_keys") === 0L)
      assert(p0.isNullAt(p0.fieldIndex("remap_log_rows")) &&
        p0.isNullAt(p0.fieldIndex("last_divergence_checked")) &&
        !p0.getAs[Boolean]("recluster_plan_pending"),
        "no media adjuncts on a flat store")
      AggStore.compactThrough(spark, store, groupCols, 2L)
      Tombstones.gateBatches(spark, store, Seq(4L), mutationId = 0L)
      val p1 = plan()
      assert(p1.getAs[Long]("fold_watermark") === 2L)
      assert(p1.getAs[Long]("n_batches") === 3L &&
        p1.getAs[Long]("n_batches_above_watermark") === 2L,
        "the compaction trigger = batches strictly above the fold")
      assert(p1.getAs[scala.collection.Seq[Long]]("gated_batches")
        === Seq(4L))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("maintenancePlan: the media-cluster composite layout surfaces " +
      "remap-log pressure, the staged plan, and the LAST divergence " +
      "check — a skipped detection is false, never a clean zero") {
    import graft.sources.MediaClusterStore
    val dir = java.nio.file.Files.createTempDirectory("maintcluster")
    try {
      val store = dir.resolve("c").toString
      def members(rows: Long*) =
        rows.toSeq.map((_, "image")).toDF("media_id", "modality")
      def prs(rows: (Long, Long)*) =
        rows.toSeq.map { case (a, b) => ("image", a, b) }
          .toDF("modality", "id_a", "id_b")
      MediaClusterStore.applyClusterBatch(spark,
        members(10L, 11L), prs((10L, 11L)), store, 0L)
      // a cross-batch merge writes a remap event
      MediaClusterStore.applyClusterBatch(spark,
        members(5L), prs((5L, 11L)), store, 1L)
      def plan() = Stores.maintenancePlan(spark, store).collect().head
      val p0 = plan()
      assert(p0.getAs[Long]("n_batches") === 2L &&
        p0.getAs[Long]("max_batch_id") === 1L,
        "the composite layout's fenced batches live under assignments/")
      assert(p0.getAs[Long]("remap_log_rows") >= 1L &&
        !p0.getAs[Boolean]("remap_over_bound"))
      assert(p0.isNullAt(p0.fieldIndex("last_divergence_checked")),
        "reclusterAffected never ran")
      // a no-tombstone-log run SKIPS detection: the plan must say so
      MediaClusterStore.reclusterAffected(spark, store, prs((10L, 11L)))
      val p1 = plan()
      assert(p1.getAs[Boolean]("last_divergence_checked") === false,
        "skipped detection surfaces as false, not a clean-looking zero")
      // an erasure-triggered run CHECKS: the plan flips
      MediaClusterStore.deleteMembers(members(11L), store, 0L)
      MediaClusterStore.reclusterAffected(spark, store, prs((10L, 11L)))
      val p2 = plan()
      assert(p2.getAs[Boolean]("last_divergence_checked") === true)
      assert(p2.getAs[Long]("n_tombstoned_keys") === 1L,
        "the cluster store's own erasure log must be counted")
      assert(!p2.getAs[Boolean]("recluster_plan_pending"),
        "an applied plan leaves nothing pending")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("maintenancePlan layout: a typo'd path reports 'absent', never " +
      "a clean-looking zero row; real stores report their layout and " +
      "autoMaintain refuses 'absent' loudly") {
    val dir = java.nio.file.Files.createTempDirectory("maintlayout")
    try {
      val typo = dir.resolve("no_such_store.parquet").toString
      assert(Stores.maintenancePlan(spark, typo).collect().head
        .getAs[String]("layout") === "absent")
      val e = intercept[IllegalArgumentException] {
        Stores.autoMaintain(spark, typo, _ => ())
      }
      assert(e.getMessage.contains("no store layout"))
      // a non-store dir that merely EXISTS is still 'absent'
      java.nio.file.Files.createDirectory(dir.resolve("junk"))
      assert(Stores.maintenancePlan(spark, dir.resolve("junk").toString)
        .collect().head.getAs[String]("layout") === "absent")
      val store = dir.resolve("store.parquet").toString
      AggStore.applyBatch(li, groupCols, "l_extendedprice", store, 0L)
      assert(Stores.maintenancePlan(spark, store).collect().head
        .getAs[String]("layout") === "batched")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("gate vs key erasure no longer alias (r19 kind tags): an " +
      "erased doc key equal to a live batch id is not a gate, and a " +
      "gate is not a tombstoned key") {
    val dir = java.nio.file.Files.createTempDirectory("kindtags")
    try {
      val store = dir.resolve("store.parquet").toString
      (0 until 3).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(3)) === b), groupCols,
        "l_extendedprice", store, b.toLong))
      // a doc-keyed erasure whose key COLLIDES with live batch id 1
      Tombstones.applyDelete(Seq(1L).toDF("doc_id"), "doc_id", store,
        batchId = 0L)
      assert(Tombstones.gatedBatches(spark, store) === Set.empty[Long],
        "a kind='key' erasure must never report as a gate")
      val plan0 = Stores.maintenancePlan(spark, store).collect().head
      assert(plan0.getAs[scala.collection.Seq[Long]]("gated_batches")
        .isEmpty && plan0.getAs[Long]("n_tombstoned_keys") === 1L)
      // a real gate joins the same log; the two stay disjoint
      Tombstones.gateBatches(spark, store, Seq(2L), mutationId = 1L)
      assert(Tombstones.gatedBatches(spark, store) === Set(2L))
      assert(Tombstones.deletedKeys(spark, store).get.collect()
        .map(_.getLong(0)).toSet === Set(1L),
        "a gate must not count as a tombstoned key")
      // ungate removes ONLY the gate row; the key erasure survives
      Tombstones.ungateBatch(spark, store, 2L)
      assert(Tombstones.gatedBatches(spark, store) === Set.empty[Long])
      assert(Tombstones.deletedKeys(spark, store).get.collect()
        .map(_.getLong(0)).toSet === Set(1L))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("autoMaintain drives a dirty multi-store fixture to clean " +
      "state; the second pass is a no-op") {
    import graft.sources.MediaClusterStore
    val dir = java.nio.file.Files.createTempDirectory("automaint")
    try {
      // store A: an exact agg store, 5 un-folded batches, one GATE at
      // batch 2 — the trigger must steer the fold BELOW the gate
      val agg = dir.resolve("agg.parquet").toString
      (0 until 5).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b), groupCols,
        "l_extendedprice", agg, b.toLong))
      Tombstones.gateBatches(spark, agg, Seq(2L), mutationId = 0L)
      val before = AggStore.mergePartials(
          Tombstones.filterGated(spark.read.parquet(agg), agg)
            .drop("batch_id"), groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val r1 = Stores.autoMaintain(spark, agg,
        t => AggStore.compactThrough(spark, agg, groupCols, t),
        compactAboveBatches = 4L)
      assert(r1.layout === "batched" && r1.compactedThrough === Some(1L),
        "fold must clip below the gated batch, not trip on it")
      assert(AggStore.mergePartials(
          Tombstones.filterGated(spark.read.parquet(agg), agg)
            .drop("batch_id"), groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
        === before, "read-before must equal read-after")
      val r2 = Stores.autoMaintain(spark, agg,
        t => AggStore.compactThrough(spark, agg, groupCols, t),
        compactAboveBatches = 4L)
      assert(r2.isNoOp, "steady state: the gate blocks further " +
        "folding and the trigger must not re-fire forever")

      // store B: a sketch store past the batch trigger, no gates
      val kll = dir.resolve("kll.parquet").toString
      (0 until 5).foreach(b => QuantileStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(5)) === b), groupCols,
        "l_extendedprice", kll, b.toLong, k = 64))
      val r3 = Stores.autoMaintain(spark, kll,
        t => QuantileStore.compactThrough(spark, kll, groupCols, 64, t),
        compactAboveBatches = 4L, retainBatches = 1L)
      assert(r3.compactedThrough === Some(3L))
      assert(Stores.autoMaintain(spark, kll,
        t => QuantileStore.compactThrough(spark, kll, groupCols, 64, t),
        compactAboveBatches = 4L, retainBatches = 1L).isNoOp)

      // store C: a cluster store with a standing erasure whose
      // divergence was never checked — the repair trigger
      val cl = dir.resolve("cl").toString
      def members(rows: Long*) =
        rows.toSeq.map((_, "image")).toDF("media_id", "modality")
      def prs(rows: (Long, Long)*) =
        rows.toSeq.map { case (a, b) => ("image", a, b) }
          .toDF("modality", "id_a", "id_b")
      MediaClusterStore.applyClusterBatch(spark, members(10L, 11L, 12L),
        prs((10L, 11L), (11L, 12L)), cl, 0L)
      MediaClusterStore.deleteMembers(members(11L), cl, 0L)
      def repair() = Stores.autoMaintain(spark, cl, _ => (),
        recluster = Some(() => {
          MediaClusterStore.reclusterAffected(spark, cl,
            prs((10L, 11L), (11L, 12L))); ()
        }))
      val r5 = repair()
      assert(r5.layout === "cluster" && r5.reclustered,
        "unchecked erasure divergence must trigger the repair")
      assert(repair().isNoOp,
        "a checked divergence must not re-trigger")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // ------------------------------------- AggStore through the one fold
  private def withDir(prefix: String)(body: java.nio.file.Path => Unit)
      : Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir) finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("AggStore compaction of a never-ingested path is a no-op") {
    withDir("aggnever") { dir =>
      val store = dir.resolve("store.parquet").toString
      AggStore.compactThrough(spark, store, groupCols, 2L)
      assert(!java.nio.file.Files.exists(dir.resolve("store.parquet")),
        "compacting nothing must not create a store")
    }
  }

  test("AggStore compaction refuses a gated batch at or below " +
      "`through` with the family's message and leaves the store as is") {
    withDir("agggated") { dir =>
      val store = dir.resolve("store.parquet").toString
      (0 until 3).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(3)) === b), groupCols,
        "l_extendedprice", store, b.toLong))
      Tombstones.gateBatches(spark, store, Seq(1L), mutationId = 0L)
      val e = intercept[IllegalArgumentException](
        AggStore.compactThrough(spark, store, groupCols, 2L))
      assert(e.getMessage.contains("gated batch(es) 1 await a clean " +
        "rebuild"), e.getMessage)
      assert(FoldWatermark.read(spark, store).isEmpty)
      assert(Stores.describe(spark, store).select("batch_id").as[Long]
        .collect().toSet === Set(0L, 1L, 2L))
    }
  }

  test("AggStore compaction of an empty fold region writes no " +
      "watermark and moves no answer") {
    withDir("aggempty") { dir =>
      val store = dir.resolve("store.parquet").toString
      (5 until 7).foreach(b => AggStore.applyBatch(
        li.filter(pmod($"l_orderkey", lit(2)) === b - 5), groupCols,
        "l_extendedprice", store, b.toLong))
      def full = AggStore.aggFromStore(spark, store, groupCols)
        .orderBy(groupCols.map(col): _*).collect().map(_.toSeq).toSeq
      val before = full
      AggStore.compactThrough(spark, store, groupCols, 2L)
      assert(FoldWatermark.read(spark, store).isEmpty,
        "no watermark for a fold that never happened")
      assert(full === before)
      assert(Stores.describe(spark, store).select("batch_id").as[Long]
        .collect().toSet === Set(5L, 6L))
    }
  }

  /** (file name, source) of every `src/main/scala` file. */
  private lazy val mainSources: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory,
      s"run from the repo root: ${main.getAbsolutePath}")
    java.nio.file.Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  /** `file:def` of every def in `src/main/scala` whose text (up to the
    * next def) satisfies `p`. */
  private def defsWhere(p: String => Boolean): Seq[String] = {
    val defStart = "(?m)^\\s*(?:(?:private|protected|override|final)" +
      "(?:\\[\\w+\\])?\\s+)*def\\s+(\\w+)"
    mainSources.flatMap { case (f, src) =>
      val starts = defStart.r.findAllMatchIn(src).toSeq
      starts.zip(starts.drop(1).map(_.start) :+ src.length).collect {
        case (m, end) if p(src.substring(m.start, end)) =>
          s"$f:${m.group(1)}"
      }
    }
  }

  test("the batch layout lives in Stores: per-batch partitioned writes " +
      "and the batch_id= prefix prune are written out once") {
    // Stores.writeBatch, plus the four rewrites of a relation that
    // already carries batch_id: Tombstones.ungateBatch's static log
    // rewrite, TombstoneLog.swapIn's kept-log stage, the recluster
    // plan apply and the verdict scrub
    val partitioned = mainSources
      .map { case (f, src) => f -> scala.util.matching.Regex
        .quote("partitionBy(\"batch_id\")").r.findAllMatchIn(src).size }
      .filter(_._2 > 0).toMap
    assert(partitioned === Map("Stores.scala" -> 1,
      "Tombstones.scala" -> 1, "TombstoneLog.scala" -> 1,
      "MediaClusterStore.scala" -> 1, "MediaDedupStore.scala" -> 1))
    // a prefix-delete loop: a def whose body keeps listed entries named
    // batch_id=… and deletes them, by hand or over Stores.batchIds
    val pruners = defsWhere { body =>
      (body.contains("startsWith(\"batch_id=\")") &&
        "\\.delete\\(\\w+\\.getPath".r.findFirstIn(body).isDefined) ||
        (body.contains("batchIds(") && body.contains(".delete("))
    }
    assert(pruners === Seq("Stores.scala:pruneThrough"))
  }

  test("one root swap and one batch_id= listing: no legacyPromote knob, " +
      "the swap siblings are named only in Stores, and only " +
      "Stores.batchIds parses a batch_id= name") {
    def filesWith(token: String) =
      mainSources.filter(_._2.contains(token)).map(_._1).toSet
    assert(filesWith("legacyPromote").isEmpty)
    Seq("_compact_old", "codes_compact_", ".precompact").foreach(t =>
      assert(filesWith(t).subsetOf(Set("Stores.scala")),
        s"$t is named outside Stores.scala: ${filesWith(t)}"))
    assert(defsWhere(_.contains("stripPrefix(\"batch_id=\")")) ===
      Seq("Stores.scala:batchIds"))
  }
}
