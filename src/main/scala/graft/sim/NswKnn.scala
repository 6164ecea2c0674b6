package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based approximate nearest-neighbor search — the navigable-
  * small-world family (Malkov et al. 2014 NSW; HNSW 2016 is its
  * layered refinement), completing the engine's ANN coverage next to
  * BRP-LSH, IVF, PQ and IVF-PQ: where IVF prunes by cell geometry, a
  * small-world graph walks greedy neighbor links and reaches high
  * recall at low visit counts even when cluster structure is weak.
  *
  * Spark-first shape (the 100 TB story): one GLOBAL graph would need
  * every insertion to see every prior node — inherently sequential and
  * memory-bound. Instead the corpus shards by hash(vec_id) into P
  * INDEPENDENT small-world graphs, each built inside one executor task
  * (the standard distributed-HNSW practice — per-shard graphs +
  * cross-shard result union, e.g. Spark-annoy/partitioned-hnswlib
  * deployments):
  *  - BUILD is embarrassingly parallel: P tasks, each inserting its
  *    own ~n/P nodes with beam-searched neighbor selection — zero
  *    shuffle beyond the one hash repartition; the graph persists as
  *    plain (shard, vec_id, embedding, neighbors) rows.
  *  - SEARCH broadcasts the (tiny) query set; each shard beam-walks
  *    its own graph and emits its best ef candidates; the global
  *    answer is the exact re-rank of the ≤ P·ef union — per-query
  *    work is O(P · ef · M) distance evaluations, independent of n.
  *  - DETERMINISM: shard membership is a pure function of vec_id,
  *    insertion order is sorted vec_id, and every beam tie-break is
  *    (distance, id) — so the graph and the results are byte-stable
  *    under any input layout (spec-pinned).
  *
  * The exact-re-rank output tail shares q30's contract and is DuckDB-
  * checked over the dumped candidate pairs (`VecPrep.rerankOracleSql`);
  * the graph walk itself is pinned by recall + determinism specs.
  */
object NswKnn {

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Greedy beam search over one shard graph: returns the ef best
    * (cos, id) pairs found from the fixed entry, visiting neighbors of
    * the current best frontier. adj maps LOCAL index → neighbor local
    * indices; vecs/nrms indexed locally. */
  private def beam(q: Array[Float], qn: Double, entry: Int,
      adj: Array[Array[Int]], vecs: Array[Array[Float]],
      nrms: Array[Double], ef: Int): Array[(Double, Int)] = {
    // max-heap of the current best ef (by cos ascending at head so the
    // worst of the kept set is peekable); visited bitset
    val kept = new java.util.PriorityQueue[(Double, Int)](ef,
      Ordering.by[(Double, Int), (Double, Int)](p => (p._1, -p._2)))
    val frontier = new java.util.PriorityQueue[(Double, Int)](ef,
      Ordering.by[(Double, Int), (Double, Int)](p => (-p._1, p._2)))
    val visited = new java.util.BitSet(vecs.length)
    def cos(i: Int): Double = dot(q, vecs(i)) / (nrms(i) * qn)
    val e0 = (cos(entry), entry)
    kept.offer(e0); frontier.offer(e0); visited.set(entry)
    while (!frontier.isEmpty) {
      val (cBest, iBest) = frontier.poll()
      // stop when the best unexpanded candidate is worse than the
      // worst kept and the kept set is full (classic NSW termination)
      if (kept.size >= ef && cBest < kept.peek()._1) {
        frontier.clear()
      } else {
        adj(iBest).foreach { nb =>
          if (!visited.get(nb)) {
            visited.set(nb)
            val c = cos(nb)
            if (kept.size < ef) {
              kept.offer((c, nb)); frontier.offer((c, nb))
            } else if (c > kept.peek()._1 ||
                (c == kept.peek()._1 && nb < kept.peek()._2)) {
              kept.poll(); kept.offer((c, nb)); frontier.offer((c, nb))
            }
          }
        }
      }
    }
    kept.toArray(Array.empty[(Double, Int)])
  }

  /** Build one shard's NSW graph over (sorted-by-id) members: insert
    * nodes in id order; each connects bidirectionally to its M nearest
    * among the already-inserted (found by beam with efC), neighbor
    * lists pruned to the best maxM. */
  private def buildShard(vecs: Array[Array[Float]], nrms: Array[Double],
      m: Int, efC: Int): Array[Array[Int]] = {
    val n = vecs.length
    // adjacency as immutable small arrays updated by REPLACEMENT, read
    // live by the insert-time beam: node i's search can only reach
    // already-inserted nodes (< i) from entry 0, so no snapshot is
    // needed. The previous per-insert `adj.take(i).map(_.toArray)`
    // snapshot was Σi = O(n²) array clones — measured ×30 at a 10×
    // shard in the r11 sf1 probe; edge appends now copy one ≤2m-int
    // array each, O(n·m²) total. Same graph bit-for-bit (spec-pinned
    // stored ≡ rebuilt, recall vs exact unchanged).
    val adj = Array.fill(n)(Array.empty[Int])
    val maxM = 2 * m
    def prune(i: Int): Unit = if (adj(i).length > maxM) {
      adj(i) = adj(i)
        .map(j => (dot(vecs(i), vecs(j)) / (nrms(i) * nrms(j)), j))
        .sortBy(p => (-p._1, p._2)).take(maxM).map(_._2)
    }
    var i = 1
    while (i < n) {
      val found = beam(vecs(i), nrms(i), 0, adj, vecs, nrms, efC)
        .sortBy(p => (-p._1, p._2)).take(m)
      found.foreach { case (_, j) =>
        adj(i) = adj(i) :+ j; adj(j) = adj(j) :+ i; prune(j)
      }
      prune(i)
      i += 1
    }
    adj
  }

  /** Shard-build over an explicit (shard, vec_id, embedding, nrm)
    * relation — shared by the full build and the compaction rebuild. */
  private def graphOf(rows: DataFrame, nParts: Int, m: Int,
      efC: Int): DataFrame = {
    import rows.sparkSession.implicits._
    rows
      .select(col("shard").cast("int"), col("vec_id"),
        col("embedding"), col("nrm"))
      .as[(Int, Long, Seq[Float], Double)]
      .repartition(nParts, col("shard"))
      .mapPartitions { it =>
        // a hash partition can hold several shard values — build each
        // shard's graph independently, sorted by id for determinism
        it.toSeq.groupBy(_._1).iterator.flatMap { case (shard, rows) =>
          val sorted = rows.sortBy(_._2)
          val ids = sorted.map(_._2).toArray
          val vecs = sorted.map(_._3.toArray).toArray
          val nrms = sorted.map(_._4).toArray
          val adj = buildShard(vecs, nrms, m, efC)
          ids.indices.iterator.map { i =>
            (shard, ids(i), vecs(i).toSeq, nrms(i),
              adj(i).map(ids(_)).toSeq.sorted)
          }
        }
      }
      .toDF("shard", "vec_id", "embedding", "nrm", "neighbors")
  }

  /** The persisted graph relation: (shard, vec_id, embedding, nrm,
    * neighbors ARRAY<BIGINT>) — self-contained per shard. */
  def buildGraph(s: SparkSession, d: String, nShards: Int = 4,
      m: Int = 8, efC: Int = 32): DataFrame =
    graphOf(
      VecPrep.normed(s, d)
        .withColumn("shard", pmod(xxhash64(col("vec_id")), lit(nShards))),
      nShards, m, efC)

  /** The shard-walk search body shared by the in-query and stored
    * paths (ONE implementation, so the "stored output ≡ in-query
    * output" spec can never drift): group each shard's rows, build the
    * local index, beam-walk every broadcast query, drop self-matches
    * and the excluded (tombstoned) ids. */
  private def searchShards(s: SparkSession, graph: DataFrame,
      qs: Array[(Long, Array[Float], Double)], nShards: Int, efS: Int,
      excluded: Set[Long]): DataFrame = {
    import s.implicits._
    val qb = s.sparkContext.broadcast(qs)
    val xb = s.sparkContext.broadcast(excluded)
    graph
      .as[(Int, Long, Seq[Float], Double, Seq[Long])]
      .repartition(nShards, col("shard"))
      .mapPartitions { it =>
        it.toSeq.groupBy(_._1).iterator.flatMap { case (_, rows) =>
          val sorted = rows.sortBy(_._2)
          val ids = sorted.map(_._2).toArray
          val local = ids.zipWithIndex.toMap
          val vecs = sorted.map(_._3.toArray).toArray
          val nrms = sorted.map(_._4).toArray
          val adj = sorted.map(_._5.map(local).toArray).toArray
          qb.value.iterator.flatMap { case (qid, qe, qn) =>
            beam(qe, qn, 0, adj, vecs, nrms, efS).iterator
              .collect {
                case (c, li) if ids(li) != qid && !xb.value(ids(li)) =>
                  (qid, ids(li), c)
              }
          }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
  }

  /** Search: broadcast queries, beam-walk every shard graph, union the
    * per-shard candidates, exact-re-rank to top-k (q30's shared output
    * contract). */
  def nswKnn(s: SparkSession, d: String, nShards: Int = 4, m: Int = 8,
      efC: Int = 32, efS: Int = 32, topK: Int = 5,
      nQueries: Int = 10): DataFrame = {
    import s.implicits._
    val graph = buildGraph(s, d, nShards, m, efC)
    val qs = VecPrep.normed(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Seq[Float], Double)].collect()
      .map { case (id, e, n) => (id, e.toArray, n) }
    require(qs.nonEmpty, "nswKnn: no query vectors")
    val cands = searchShards(s, graph, qs, nShards, efS, Set.empty)
    graft.OracleDump.dump(
      cands.select(col("query_id"), col("neighbor_id").as("cand_id")),
      s"${VecPrep.AnnOracleDir}/nq_nsw_knn.parquet")
    VecPrep.topKCosine(cands, topK)
  }

  /** Persist the graph relation — build once / search many (the store
    * family's contract: the IVF-PQ store, gram store, signature store
    * precedent). Plain parquet partitioned by shard, so a search reads
    * each shard's rows as one pruned scan. */
  def writeGraph(s: SparkSession, d: String, path: String,
      nShards: Int = 4, m: Int = 8, efC: Int = 32): Unit =
    buildGraph(s, d, nShards, m, efC)
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Search a PERSISTED graph: same beam walk, graph loaded from the
    * store instead of rebuilt. Output ≡ [[nswKnn]] (same build
    * parameters ⇒ same deterministic graph; spec-pinned).
    *
    * Key-level deletes ([[deleteFromGraphStore]]) are honored at the
    * CANDIDATE stage, before top-k truncation: a tombstoned node can
    * never be returned, but its row stays in the graph as a routing
    * waypoint until [[compactGraphStore]] — removing the row at read
    * would leave dangling neighbor ids and sever the paths built
    * through it (the HNSW-deletion trade-off; FAISS's IDSelector
    * filtering makes the same choice). */
  def nswKnnStored(s: SparkSession, d: String, storePath: String,
      nShards: Int = 4, efS: Int = 32, topK: Int = 5,
      nQueries: Int = 10): DataFrame = {
    import s.implicits._
    val graph = s.read.parquet(storePath)
      .select(col("shard").cast("int"), col("vec_id"), col("embedding"),
        col("nrm"), col("neighbors"))
    val qs = VecPrep.normed(s, d).filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Seq[Float], Double)].collect()
      .map { case (id, e, n) => (id, e.toArray, n) }
    require(qs.nonEmpty, "nswKnnStored: no query vectors")
    // deletion-sized set (requests, not corpus) — broadcast it
    val excluded = graft.rel.Tombstones.deletedKeys(s, storePath)
      .map(_.select(col("key").cast("long")).as[Long].collect().toSet)
      .getOrElse(Set.empty[Long])
    val cands = searchShards(s, graph, qs, nShards, efS, excluded)
    graft.OracleDump.dump(
      cands.select(col("query_id"), col("neighbor_id").as("cand_id")),
      s"${VecPrep.AnnOracleDir}/nq_nsw_store.parquet")
    VecPrep.topKCosine(cands, topK)
  }

  /** Tombstone vec_ids out of the stored graph (idempotent,
    * replay-fenced; see [[nswKnnStored]] for the read semantics). */
  def deleteFromGraphStore(keys: DataFrame, storePath: String,
      batchId: Long): Unit =
    graft.rel.Tombstones.applyDelete(keys, "vec_id", storePath, batchId)

  private def stageDir(p: String) = p.stripSuffix("/") + "_compact_stage"
  private def stageTmpDir(p: String) = stageDir(p) + "_tmp"

  /** Apply a standing compaction stage FROM DISK — pure idempotent
    * partition overwrites + emptied-shard deletes + the full-deletion
    * empty-root rewrite; the tombstone log deletes AFTER the apply and
    * the stage deletes LAST, so every crash window either replays the
    * stage or re-detects nothing (and reads stay correct throughout:
    * the log still suppresses the victims until it is dropped). */
  private def applyGraphStage(s: SparkSession, storePath: String): Unit = {
    import s.implicits._
    val st = new org.apache.hadoop.fs.Path(stageDir(storePath))
    val fs = st.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(st)) return
    val affected = s.read.parquet(s"$st/meta").as[Int].collect().toSet
    val dataP = new org.apache.hadoop.fs.Path(s"$st/data")
    val hasRows = fs.exists(dataP) && fs.listStatus(dataP)
      .exists(_.getPath.getName.startsWith("shard="))
    val present: Set[Int] =
      if (!hasRows) Set.empty
      else {
        val data = s.read.parquet(dataP.toString)
        data.write.option("partitionOverwriteMode", "dynamic")
          .partitionBy("shard").mode("overwrite").parquet(storePath)
        data.select(col("shard").cast("int")).distinct()
          .as[Int].collect().toSet
      }
    // a shard whose every member was deleted produces no rows —
    // remove the emptied partitions or the deletion silently undoes
    // itself once the log is truncated
    (affected -- present).foreach { sh =>
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$storePath/shard=$sh"), true)
    }
    // a deletion covering EVERY member of EVERY shard leaves the root
    // with no parquet files, and the next read would die in schema
    // inference instead of answering empty — materialize the empty
    // relation staged for exactly this (shard becomes a plain int
    // column; nswKnnStored's select works on either layout)
    val anyData = fs.listStatus(
        new org.apache.hadoop.fs.Path(storePath))
      .exists(x => x.isDirectory && x.getPath.getName.startsWith("shard="))
    if (!anyData)
      s.read.parquet(s"$st/empty")
        .coalesce(1).write.mode("overwrite").parquet(storePath)
    fs.delete(new org.apache.hadoop.fs.Path(
      graft.rel.Tombstones.logPath(storePath)), true)
    fs.delete(st, true)
  }

  /** Fold tombstones into the store by REBUILDING only the affected
    * shards — shard membership is `hash(vec_id) mod nShards`, so a
    * deletion batch touches at most |batch| shards and every other
    * shard's files are untouched (dynamic partition overwrite). The
    * rebuilt shard graphs are exactly what a from-scratch build over
    * the survivors would produce (same deterministic insert order).
    * Read-before vs read-after may differ only in recall near the
    * deleted nodes (routing waypoints disappear) — never in membership.
    * Single maintenance owner, like every store rewrite.
    *
    * Crash discipline — DURABLE staging (the recluster-plan shape):
    * the rebuilt shards, the affected list, and the empty-root
    * fallback all materialize under `_compact_stage_tmp` and RENAME to
    * `_compact_stage` before any store mutation (the previous in-place
    * overwrite replaced shard dirs from volatile localCheckpoint
    * blocks — a crash mid-commit lost a shard's survivors with
    * nothing to restore them). Applying is idempotent-from-disk
    * ([[applyGraphStage]]); every entry replays a standing stage
    * first, and reads stay correct through every window because the
    * tombstone log — which still suppresses the victims — deletes
    * only after the apply completes. */
  /** Compute + persist the stage (no store mutation); false = nothing
    * affected. private[sim] so the interrupt spec can stage without
    * applying. */
  private[sim] def stageGraphCompaction(s: SparkSession,
      storePath: String, m: Int = 8, efC: Int = 32): Boolean = {
    import s.implicits._
    graft.rel.Tombstones.deletedKeys(s, storePath).exists { keys =>
      val full = s.read.parquet(storePath)
      val fullSchema = org.apache.spark.sql.types.StructType(
        full.schema.fields.map(f =>
          if (f.name == "shard")
            f.copy(dataType = org.apache.spark.sql.types.IntegerType)
          else f))
      val store = full
        .select(col("shard").cast("int"), col("vec_id"),
          col("embedding"), col("nrm"))
      val victims = keys.withColumnRenamed("key", "vec_id")
      val affected = store.join(victims, Seq("vec_id"), "left_semi")
        .select("shard").distinct().as[Int].collect().toSet
      val fs = new org.apache.hadoop.fs.Path(storePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (affected.nonEmpty) {
        val tmp = new org.apache.hadoop.fs.Path(stageTmpDir(storePath))
        val st = new org.apache.hadoop.fs.Path(stageDir(storePath))
        fs.delete(tmp, true)
        fs.delete(st, true)
        // computed once: rebuild + stage write
        val survivors = graft.Checkpointing.truncate(store
          .filter(col("shard").isin(affected.toSeq: _*))
          .join(victims, Seq("vec_id"), "left_anti"))
        graphOf(survivors, affected.size, m, efC)
          .write.partitionBy("shard").parquet(s"$tmp/data")
        affected.toSeq.toDF("shard")
          .coalesce(1).write.parquet(s"$tmp/meta")
        s.createDataFrame(s.sparkContext.emptyRDD[
            org.apache.spark.sql.Row], fullSchema)
          .coalesce(1).write.parquet(s"$tmp/empty")
        require(fs.rename(tmp, st),
          s"could not stage graph compaction at $st")
        true
      } else {
        fs.delete(new org.apache.hadoop.fs.Path(
          graft.rel.Tombstones.logPath(storePath)), true)
        false
      }
    }
  }

  def compactGraphStore(s: SparkSession, storePath: String,
      m: Int = 8, efC: Int = 32): Unit = {
    applyGraphStage(s, storePath) // replay an interrupted run first
    if (stageGraphCompaction(s, storePath, m, efC))
      applyGraphStage(s, storePath)
  }

  /** Driver entry for the stored path: graph built and persisted once
    * per immutable source dir (q81's memo policy), every invocation pays
    * only the beam search. */
  def nqNswStore(s: SparkSession, d: String): DataFrame = {
    val store = graft.FixtureMemo.store("nswstore", d) { root =>
      val path = s"$root/graph.parquet"
      writeGraph(s, d, path)
      path
    }
    nswKnnStored(s, d, store)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_nsw_knn" -> ((s: SparkSession, d: String) => nswKnn(s, d)),
    "nq_nsw_store" -> (nqNswStore _))

  /** Exact-re-rank oracles over the dumped beam candidates. */
  val oracle: Map[String, String] = Map(
    "nq_nsw_knn" -> VecPrep.rerankOracleSql("nq_nsw_knn"),
    "nq_nsw_store" -> VecPrep.rerankOracleSql("nq_nsw_store"))
}
