package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing CLUSTER ASSIGNMENTS for the perceptual-dedup family — the
  * SemDedup standing-assignment shape applied to media fingerprints:
  * [[MediaDedupStore.judgeBatch]] turns an arriving batch into pairs,
  * and this store turns pairs into maintained clusters WITHOUT ever
  * re-clustering the corpus. One-shot resolution
  * ([[ImageDedup.nqImageDedupClusters]]) recomputes connected
  * components over all pairs; at crawl scale the corpus re-cluster per
  * batch is the cost this store removes.
  *
  * Layout (the store-family fence discipline):
  *   - `assignments/` partitioned by `batch_id`: (media_id, modality,
  *     label) — each member's cluster label AS OF its arrival batch.
  *     Written once per member, never rewritten (corpus-sized total,
  *     batch-sized per write, naturally partitioned).
  *   - `_remaps/` partitioned by `batch_id`: (modality, old_label,
  *     new_label) — one row per CLUSTER-MERGE event: when a batch's
  *     pairs bridge existing clusters, the losing labels remap to the
  *     component's min. Merge events are match-output-sized per batch
  *     but accumulate until compaction bakes them away; within the
  *     guarded bound ([[DefaultMaxRemapRows]]) the log collects to a
  *     driver map and reads broadcast the closure, above it merges
  *     and reads fall back to the pointer-doubled closure RELATION
  *     ([[resolvedRemapsRelation]] — measured and probed, see
  *     BASELINE.md).
  *
  * Maintenance ([[applyClusterBatch]]) reads ONLY batches < the
  * applied id (the judge's replay fence: an at-least-once redelivery
  * re-derives byte-identical partitions), resolves each pair
  * endpoint's CURRENT label (own id for new members; assignment ∘
  * remap closure for standing ones — one column-pruned semi-join
  * against the broadcast endpoint set, endpoint-sized output), then
  * runs a driver union-find over the LABEL graph — label-count-sized,
  * not corpus-sized. New-label roots are the component MIN, so the
  * resolved assignment equals the one-shot min-label connected
  * components over the full pair history: remaps are strictly
  * decreasing (new_label < old_label), which makes the closure acyclic
  * and each old_label remapped at most once across the store's life.
  *
  * Reads ([[assignmentsFromStore]]) resolve raw labels through the
  * broadcast remap closure — one scan, no shuffle. 100 TB story: per
  * batch the distributed work is one assignment-store semi-join + one
  * batch-sized write; driver state is merge-events + pair-endpoints,
  * never members.
  */
object MediaClusterStore {

  private def assignDir(p: String) = s"$p/assignments"
  private def remapDir(p: String) = s"$p/_remaps"
  private def tombDir(p: String) = s"$p/_cluster_tombstones"
  private def tombNextDir(p: String) = s"${tombDir(p)}_next"

  private def pathOf(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fsOf(s: SparkSession, p: String) =
    pathOf(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** True iff `dir` exists AND holds at least one fenced partition — a
    * dynamic overwrite of an EMPTY relation leaves a file-less dir
    * (_SUCCESS only) whose bare parquet read fails schema inference,
    * so every store read gates on partitions, not bare existence (an
    * all-tombstoned first batch on a fresh store hits this). ONE
    * shared implementation of the gate ([[graft.rel.Tombstones
    * .populated]]) so the partition-naming rule cannot drift. */
  private def hasBatches(s: SparkSession, dir: String): Boolean =
    graft.rel.Tombstones.populated(s, dir)

  /** Delete `dir` when it holds NO fenced partition — the other half
    * of the file-less-dir rule (a fully-pruned relation must drop its
    * root, or the _SUCCESS-only husk bricks later schema inference).
    * ONE implementation for every maintenance tail (compaction,
    * recluster, plan application). The fold watermark survives the
    * delete (it carries the ingest replay horizon — the erased
    * store's last defense against a redelivered pre-erasure batch). */
  private def deleteIfPartitionless(s: SparkSession, dir: String): Unit =
    if (!hasBatches(s, dir))
      graft.rel.FoldWatermark.deletePreservingWatermark(fsOf(s, dir), dir)

  /** Loud guard on the driver-collected merge-event log — the ONE
    * in-principle-unbounded term in the store (the
    * [[MediaDedupStore.MaxBroadcastBatchRows]] precedent: a bound
    * with a DISTRIBUTED fallback, not a refusal): merge events are
    * match-output-sized per batch but ACCUMULATE across the store's
    * life until [[compactThrough]] bakes them into the fold and
    * prunes the log — each label is remapped at most once, so the
    * ceiling is label-count (≈ member-count on a pathologically
    * chained corpus), not batch-sized. Measured growth: the
    * `Scratch remapgrowth` adversarial probe (BASELINE.md; its source
    * is in tools/Scratch.scala at commit 15fbb0b) holds
    * merge latency flat through 2.2·10⁵ accumulated events while the
    * standing-read cost grows with the log and collapses 10× after
    * compaction. Within the bound, merges and reads collect the log
    * into a driver map and broadcast the closure (the fast path);
    * above it they WARN naming the compaction cadence and fall back
    * to [[resolvedRemapsRelation]] — closure resolution as
    * pointer-doubling self-joins, never driver-materialized — so an
    * over-bound store keeps serving at distributed-join cost instead
    * of OOMing the driver. Override per session via
    * `spark.graft.cluster.maxRemapRows`. */
  private[sources] val RemapLogWarnRows = 1000000L
  private[sources] val DefaultMaxRemapRows = 4000000L
  private[graft] val MaxRemapRowsConf = "spark.graft.cluster.maxRemapRows"

  /** The fenced merge-event log as a relation (modality, old_label,
    * new_label), None when no log stands. */
  private def remapLog(s: SparkSession, storePath: String,
      beforeBatch: Option[Long]): Option[DataFrame] = {
    val dir = remapDir(storePath)
    if (!hasBatches(s, dir)) None
    else {
      val raw0 = s.read.parquet(dir)
      Some(beforeBatch.map(b => raw0.filter(col("batch_id") < b))
        .getOrElse(raw0)
        .select("modality", "old_label", "new_label"))
    }
  }

  // ------------------------------------------- resolution memos (r17)
  // The resolved closure (driver map OR relation) is a PURE function
  // of the fenced log content, and the log changes ONLY through fenced
  // partition writes (merges), prunes (compaction / recluster), or
  // targeted partition rewrites (reclusterAffected) — all visible in
  // the partition listing's (file name, length, mtime) metadata. So
  // resolution memoizes per (store, fence, log state): repeat standing
  // reads in the over-bound regime pay ONE pointer-doubling run
  // instead of O(log chain) self-join jobs per read, and repeat
  // within-bound reads skip the re-collect. Bounded LRU — a long
  // crawl's per-merge fences must not accumulate driver state.

  /** Bounded access-order memo (driver-side, tiny on purpose). */
  private final class BoundedMemo[K, V](max: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V])
          : Boolean = size() > max
    }
    def getOrElseUpdate(k: K)(v: => V): V = {
      val hit = m.synchronized(Option(m.get(k)))
      hit.getOrElse { val x = v; m.synchronized(m.put(k, x)); x }
    }
    def clear(): Unit = m.synchronized(m.clear())
  }

  /** The remap log's partition-level state: partition dir → its data
    * files' (name, length, mtime) — one FS listing, no Spark job. */
  private def remapLogState(s: SparkSession, storePath: String)
      : Map[String, Set[(String, Long, Long)]] = {
    val dir = remapDir(storePath)
    val fs = fsOf(s, dir)
    if (!fs.exists(pathOf(dir))) Map.empty
    else fs.listStatus(pathOf(dir)).iterator
      .filter(_.getPath.getName.startsWith("batch_id="))
      .map { st =>
        st.getPath.getName -> fs.listStatus(st.getPath).iterator
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .toSet
      }.toMap
  }

  private def stateKey(st: Map[String, Set[(String, Long, Long)]]): String =
    st.toSeq.sortBy(_._1).map { case (p, fls) =>
      p + ":" + fls.toSeq.sorted.mkString("|")
    }.mkString(";")

  /** st1 still stands inside st2: every partition byte-identical, st2
    * possibly grown — the "log only grew" monotonicity witness. */
  private def subStateOf(st1: Map[String, Set[(String, Long, Long)]],
      st2: Map[String, Set[(String, Long, Long)]]): Boolean =
    st1.forall { case (p, fls) => st2.get(p).contains(fls) }

  private val collectedMemo =
    new BoundedMemo[(String, Option[Long], Long, String),
      Option[Map[(String, Long), Long]]](8)
  // the relation memo is SESSION-SCOPED (applicationId in the key): a
  // checkpoint-backed DataFrame is bound to the context that
  // materialized it, and serving one from a stopped session would
  // throw on every read until the log happened to mutate. Evicted
  // entries' checkpoint blocks free through the ContextCleaner once
  // the DataFrame is unreferenced.
  private val relationMemo =
    new BoundedMemo[(String, String, Option[Long], String), DataFrame](8)

  /** Cached over-bound PROOF per store: (log state, fence, bound) at
    * proof time. Over-bound is monotone — the fenced log only grows
    * until a prune (which changes the state) — so a proof at fence f
    * covers every fence ≥ f (None = unfenced = largest) while the
    * proof's partitions stand untouched and the current bound is ≤
    * the proven one. Closes the ADVICE r16 finding: while the log
    * stays over bound, merges/reads learn the verdict from FS
    * metadata instead of re-collecting bound+1 rows per call. */
  private val overBoundProof = scala.collection.concurrent.TrieMap
    .empty[String, (Map[String, Set[(String, Long, Long)]],
      Option[Long], Long)]

  private def proofCovers(proofFence: Option[Long], proofBound: Long,
      fence: Option[Long], bound: Long,
      proofState: Map[String, Set[(String, Long, Long)]],
      state: Map[String, Set[(String, Long, Long)]]): Boolean = {
    val fenceOk = (fence, proofFence) match {
      case (None, _) => true // unfenced ⊇ any fenced log
      case (Some(x), Some(y)) => x >= y
      case (Some(_), None) => false
    }
    fenceOk && bound <= proofBound && subStateOf(proofState, state)
  }

  /** Pointer-doubling recompute counter (spec + probe observability:
    * a memo hit must NOT increment it). */
  private[graft] val remapResolveRuns =
    new java.util.concurrent.atomic.AtomicLong

  /** Drop every resolution memo — public: an application that stops
    * and recreates its SparkSession, or wants a forced recompute,
    * must be able to reset driver-side memo state (specs compare
    * memoized ≡ recomputed; probes measure cold vs warm). */
  def clearRemapMemo(): Unit = {
    collectedMemo.clear(); relationMemo.clear(); overBoundProof.clear()
  }

  /** The remap closure from batches < `beforeBatch` (all when None)
    * as a DRIVER MAP, chain-resolved: old_label → its FINAL label —
    * or None when the log exceeds the bound (callers fall back to the
    * distributed relation). The collect carries AT MOST bound+1 rows
    * (the limit rides the collect job — no separate count, and the
    * driver never materializes an over-bound log). Chains terminate
    * because every entry decreases the label. */
  /** The resolution decision with ONE log-state listing per call:
    * Right(map) = the broadcastable driver closure (empty when no log
    * stands — the fast path); Left(relation) = the log is over the
    * bound, here is the memoized pointer-doubled closure RELATION.
    * Fusing the verdict and the fallback keeps over-bound reads at
    * one FS listing instead of two (the listing is a metadata RPC
    * storm on object stores). */
  private def remapsResolved(s: SparkSession, storePath: String,
      beforeBatch: Option[Long])
      : Either[DataFrame, Map[(String, Long), Long]] =
    remapLog(s, storePath, beforeBatch) match {
      case None => Right(Map.empty)
      case Some(fenced) =>
        // the effective bound caps at Int.MaxValue-2: a larger config
        // could not be enforced (rows.length is an Int, and limit
        // takes one) — clamping only the LIMIT would silently make the
        // over-bound branch unreachable and re-enable the driver OOM
        // the bound exists to prevent, so the BOUND clamps instead
        // (an over-clamp config still gets the distributed fallback)
        val bound = math.min(
          s.conf.getOption(MaxRemapRowsConf).map(_.toLong)
            .getOrElse(DefaultMaxRemapRows),
          Int.MaxValue.toLong - 2)
        val state = remapLogState(s, storePath)
        // a standing over-bound proof answers from FS metadata — no
        // bound+1 collect per merge/read while the log stays over
        val proven = overBoundProof.get(storePath).exists {
          case (pSt, pF, pB) =>
            proofCovers(pF, pB, beforeBatch, bound, pSt, state)
        }
        val collected: Option[Map[(String, Long), Long]] =
          if (proven) None
          else collectedMemo.getOrElseUpdate(
              (storePath, beforeBatch, bound, stateKey(state))) {
            // the collect carries AT MOST bound+1 rows (the limit rides
            // the collect job — no separate count; an over-bound log is
            // shipped ONCE per log state, then proven from metadata)
            val rows = fenced.limit(bound.toInt + 1).collect()
            if (rows.length > bound) {
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"cluster-store remap log at $storePath holds > $bound " +
                  s"merge events ($MaxRemapRowsConf): falling back to " +
                  "distributed closure resolution — run compactThrough " +
                  "to bake the closure into the assignments and restore " +
                  "the broadcast fast path")
              // crude size cap: one proof per store, and a pathological
              // many-store driver sheds them all rather than growing
              if (overBoundProof.size > 32) overBoundProof.clear()
              overBoundProof.put(storePath, (state, beforeBatch, bound))
              None
            } else {
              if (rows.length > RemapLogWarnRows)
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"cluster-store remap log at $storePath holds " +
                    s"${rows.length} merge events (soft bound " +
                    s"$RemapLogWarnRows): schedule compactThrough — every " +
                    "merge and read collects and broadcasts this log")
              val raw = rows
                .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
                .toMap
              def follow(m: String, l: Long): Long = {
                var x = l
                while (raw.contains((m, x))) x = raw((m, x))
                x
              }
              Some(raw.map { case ((m, o), _) => ((m, o), follow(m, o)) })
            }
          }
        collected.toRight(
          resolvedRelationFor(s, storePath, beforeBatch, fenced, state))
    }

  /** The remap closure as a RELATION, chain-resolved by POINTER
    * DOUBLING — the over-bound scale path (VERDICT r15 #1c): each
    * round joins the partially-resolved log against itself
    * (a.new_label = b.old_label), so chains of length ≤ 2ᵏ resolve in
    * k rounds; labels strictly decrease, so 64 rounds cover any
    * feasible chain and the fixpoint check (no row hopped) terminates
    * the loop early — log-sized distributed work per round, nothing
    * ever driver-materialized. A truncate per round cuts the
    * self-join lineage. */
  private def resolvedRemapsRelation(s: SparkSession, storePath: String,
      beforeBatch: Option[Long]): Option[DataFrame] =
    remapLog(s, storePath, beforeBatch).map(fenced =>
      resolvedRelationFor(s, storePath, beforeBatch, fenced,
        remapLogState(s, storePath)))

  /** The pointer-doubling body, memoized per (session, store, fence,
    * log state): the resolved relation is a pure function of the
    * fenced log, so over-bound standing reads (fence None — every
    * assignmentsFromStore and the recluster detection path) pay the
    * doubling ONCE per log state and then reuse the checkpointed
    * relation (VERDICT r16 #2). The session id keys the memo because
    * checkpoint blocks die with their context. */
  private def resolvedRelationFor(s: SparkSession, storePath: String,
      beforeBatch: Option[Long], fenced: DataFrame,
      state: Map[String, Set[(String, Long, Long)]]): DataFrame =
    relationMemo.getOrElseUpdate(
        (s.sparkContext.applicationId, storePath, beforeBatch,
          stateKey(state))) {
      remapResolveRuns.incrementAndGet()
      var r = graft.Checkpointing.truncate(fenced)
      var rounds = 0
      var hopped = 1L
      while (hopped > 0) {
        require(rounds < 64,
          "remap-closure pointer doubling exceeded 64 rounds — the " +
            "strictly-decreasing-label invariant is broken")
        val step = graft.Checkpointing.truncate(r.as("a").join(
            r.select(col("modality").as("b_m"),
              col("old_label").as("b_old"),
              col("new_label").as("b_new")),
            col("a.modality") === col("b_m") &&
              col("a.new_label") === col("b_old"), "left")
          .select(col("a.modality").as("modality"),
            col("a.old_label").as("old_label"),
            coalesce(col("b_new"), col("a.new_label")).as("new_label"),
            col("b_old").isNotNull.as("hop")))
        hopped = step.filter(col("hop")).count()
        r = step.drop("hop")
        rounds += 1
      }
      r
    }

  /** Merge one judged batch into the standing assignments.
    *
    * `batchMembers`: the arriving (media_id, modality) rows —
    * batch-sized, never collected, and DISTINCT by contract (a
    * multi-probe fingerprint relation carries several rows per media:
    * callers dedupe, or duplicate assignment rows reach every read). `pairs`: the batch's judge verdicts
    * (modality, id_a, id_b) — [[MediaDedupStore.judgeBatch]]'s output
    * for the SAME batch id, collected under the match-output bound.
    * Contract: cluster batches apply in ingest order (every pair
    * endpoint is either a batch member or already assigned), and the
    * batch's fingerprints ingest AFTER this call or under the same id
    * (reads here are fenced to batches < `batchId`, so replay is
    * byte-idempotent either way). Media ids arrive ONCE across batch
    * ids — an at-least-once redelivery replays the SAME id (idempotent
    * partition overwrite); an id re-arriving under a NEW batch id is a
    * caller error (it would write a second assignment row, which the
    * judge's pair distinct tolerates but every cluster read would
    * serve twice). DETECTED at judge time, for free: after the judge's
    * `batch_id <` fence a surviving equal-id match IS that violation
    * (a replay's own stored copy is fenced out), so pairs produced
    * with [[MediaDedupStore.judgeBatch]]'s `keepReArrivals` — the
    * crawl loop's form — carry the evidence as id_a == id_b rows, and
    * this method fails loudly on them in the collect it already pays
    * (best-effort: a re-arrival whose content drifted past the
    * hamming threshold never collides; a full check would cost the
    * corpus-sized anti-join this contract exists to avoid). */
  def applyClusterBatch(s: SparkSession, batchMembers: DataFrame,
      pairs: DataFrame, storePath: String, batchId: Long): Unit = {
    import s.implicits._
    val aDir = assignDir(storePath)
    // the replay-horizon guard: a merge at or below the fold watermark
    // would read an EMPTY prior view (its history was folded), treat
    // standing members as fresh, and resurrect a pruned assignment
    // partition — loud refusal instead (the remap-log write below
    // shares the same horizon)
    graft.rel.FoldWatermark.requireIngestAbove(s, aDir, batchId)

    // this batch's pair edges — match-output-sized (the verdict bound)
    val pr0 = pairs.select(col("modality"), col("id_a"), col("id_b"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // equal-id rows are the judge's re-arrival diagnostic (see the
    // contract scaladoc): an id already standing in an earlier batch
    // arrived again under THIS new id — refuse before the store serves
    // duplicate assignment rows
    val reArrivals = pr0.filter { case (_, a, b) => a == b }
    require(reArrivals.isEmpty,
      s"cluster batch $batchId re-delivers media ids already standing " +
        s"under an EARLIER batch id (media ids arrive once across " +
        s"batch ids; replay the ORIGINAL id instead): " +
        reArrivals.take(5).map { case (m, a, _) => s"($m, $a)" }
          .mkString(", ") +
        (if (reArrivals.length > 5) s" … ${reArrivals.length} total"
         else ""))
    val pr = pr0
    val endpoints = pr.flatMap { case (m, a, b) => Seq((m, a), (m, b)) }
      .distinct

    // current labels of STANDING endpoints: one column-pruned semi-join
    // of the assignment store against the broadcast endpoint set
    // (fenced below the applied batch), endpoint-sized result
    val rawLabels: Map[(String, Long), Long] =
      if (endpoints.isEmpty || !hasBatches(s, aDir)) Map.empty
      // leftover fence (r18): a crashed compaction's pre-fold rows
      // coexist with the fold until re-entry recovery prunes them —
      // an endpoint matching BOTH copies would collect two label rows
      else graft.rel.Stores.readBatches(s, aDir)
        .filter(col("batch_id") < batchId)
        .join(broadcast(endpoints.toSeq.toDF("e_m", "e_id")),
          col("modality") === col("e_m") &&
            col("media_id") === col("e_id"), "left_semi")
        .select("modality", "media_id", "label").collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val remap: Map[(String, Long), Long] =
      // no standing endpoints → nothing to resolve: skip the decision
      // entirely (in the over-bound regime remapsResolved materializes
      // the pointer-doubled relation, which a pair-less batch — the
      // common no-near-dups trigger — would then discard unused)
      if (rawLabels.isEmpty) Map.empty
      else remapsResolved(s, storePath, Some(batchId)) match {
        case Right(m) => m
        case Left(rel) =>
          // over-bound fallback: resolve ONLY the standing endpoints'
          // labels through the distributed closure — endpoint-sized
          // collect regardless of log size (the merge path never
          // needed the full log, only these labels' final values)
          val need = rawLabels.iterator
            .map { case ((m, _), l) => (m, l) }.toSet.toSeq
          rel.join(broadcast(need.toDF("n_m", "n_l")),
              col("modality") === col("n_m") &&
                col("old_label") === col("n_l"), "left_semi")
            .collect()
            .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
            .toMap
      }
    def resolve(m: String, l: Long): Long =
      remap.getOrElse((m, l), l)
    // a pair endpoint absent from the store is a batch member: its
    // current label is itself (the applyClusterBatch ordering contract)
    def labelOf(m: String, id: Long): Long =
      rawLabels.get((m, id)).map(resolve(m, _)).getOrElse(id)

    // driver union-find over LABELS, roots = component min
    val parent = scala.collection.mutable.Map.empty[(String, Long), (String, Long)]
    def find(x: (String, Long)): (String, Long) = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    def union(x: (String, Long), y: (String, Long)): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) {
        if (rx._2 < ry._2) parent(ry) = rx else parent(rx) = ry
      }
    }
    pr.foreach { case (m, a, b) =>
      union((m, labelOf(m, a)), (m, labelOf(m, b)))
    }

    // merge events: every standing label whose component min dropped
    // (iterator, NOT Map.map — a pair-valued map over a Map would
    // rebuild a Map keyed by modality and collapse the labels)
    val resolvedStanding: Seq[(String, Long)] = rawLabels.iterator
      .map { case ((m, _), l) => (m, resolve(m, l)) }.toSet.toSeq
    val newRemaps = resolvedStanding.flatMap { case (m, l) =>
      val r = find((m, l))._2
      if (r != l) Some((m, l, r)) else None
    }
    if (newRemaps.nonEmpty)
      // coalesce(1): merge-event-sized by the scaladoc bound
      graft.rel.Stores.writeBatch(
        newRemaps.toDF("modality", "old_label", "new_label"),
        remapDir(storePath), batchId)

    // new members' assignments: pair participants take their component
    // root (a pair-endpoint-sized broadcast map), everyone else is its
    // own singleton cluster — one batch-sized write, never collected
    val memberRoots = endpoints
      .filter(e => !rawLabels.contains(e))
      .map { case (m, id) => (m, id, find((m, id))._2) }
    // erased keys never (re-)join: a batch re-delivering an erased
    // member must not write a fresh assignment row (the judge already
    // filters its pairs when the fingerprint store was erased too)
    graft.rel.Stores.writeBatch(
      minusTombstones(s, storePath,
          batchMembers.select(col("media_id"), col("modality")))
        .join(broadcast(memberRoots.toSeq.toDF("r_m", "r_id", "root")),
          col("modality") === col("r_m") && col("media_id") === col("r_id"),
          "left")
        .select(col("media_id"), col("modality"),
          coalesce(col("root"), col("media_id")).as("label")),
      aDir, batchId, singleFile = false)
  }

  /** Keyed erasure for cluster MEMBERSHIP: (media_id, modality)
    * tombstones under fenced partitions (the store-family log shape —
    * [[graft.rel.TombstoneLog]]'s swap discipline, shared dirs
    * convention). Erasure semantics, documented: membership is
    * suppressed in every read and re-arrivals are filtered at merge
    * time, but cluster TOPOLOGY is historical — survivors identified
    * as duplicates via an erased member stay identified (the pair
    * evidence concerned THEIR content), and label VALUES are opaque
    * lineage ids that may name erased media; [[survivingAssignments]]
    * re-elects the served cluster_id to the min surviving member so
    * keepers are always real rows. Erase from the fingerprint store
    * ([[MediaDedupStore.deleteMedia]]) in the same maintenance step so
    * future judges never emit pairs naming the key. */
  def deleteMembers(keys: DataFrame, storePath: String,
      batchId: Long): Unit = {
    val s = keys.sparkSession
    graft.rel.TombstoneLog.recoverSwap(fsOf(s, storePath),
      tombDir(storePath), tombNextDir(storePath))
    graft.rel.Stores.writeBatch(keys.select(col("media_id"), col("modality")),
      tombDir(storePath), batchId)
  }

  /** Anti-join the broadcast cluster tombstone log (or its staged
    * replacement inside a swap window). */
  private def minusTombstones(s: SparkSession, storePath: String,
      base: DataFrame): DataFrame =
    graft.rel.TombstoneLog.readDir(fsOf(s, storePath),
        tombDir(storePath), tombNextDir(storePath)) match {
      case None => base
      case Some(dir) =>
        val cols = base.columns.toSeq
        base.join(
            broadcast(s.read.parquet(dir)
              .select(col("media_id").as("ti"), col("modality").as("tm"))
              .distinct()),
            col("media_id") === col("ti") && col("modality") === col("tm"),
            "left_anti")
          .select(cols.map(col): _*)
    }

  /** Every member's CURRENT cluster: raw assignment labels resolved
    * through the broadcast remap closure — (media_id, modality,
    * cluster_id), one scan, no shuffle. */
  def assignmentsFromStore(s: SparkSession, storePath: String,
      asOfBatch: Option[Long] = None): DataFrame = {
    import s.implicits._
    val aDir = assignDir(storePath)
    // partition-gated, not existence-gated: an all-tombstoned (or
    // empty) first batch leaves a file-less dir — read it as empty
    if (!hasBatches(s, aDir))
      return s.range(0).select(col("id").as("media_id"),
        lit("").as("modality"), col("id").as("cluster_id"))
    // as-of b = members that had ARRIVED by b, under the labels as
    // MERGED by b (assignments AND remaps both fence at b — a later
    // batch's bridge must not retro-merge the historical view; the
    // compaction watermark bounds how far back as-of stays derivable,
    // the store-family retention trade — ENFORCED: an as-of below the
    // fold watermark fails loudly instead of serving an empty history)
    val data = graft.rel.Stores.readBatches(s, aDir, asOfBatch)
    val base = data.select("media_id", "modality", "label")
    def resolveThrough(rel: DataFrame) = base.join(rel,
        col("modality") === col("r_m") && col("label") === col("old_label"),
        "left")
      .select(col("media_id"), col("modality"),
        coalesce(col("new_label"), col("label")).as("cluster_id"))
    remapsResolved(s, storePath, asOfBatch.map(_ + 1)) match {
      case Right(remap) if remap.isEmpty =>
        base.select(col("media_id"), col("modality"),
          col("label").as("cluster_id"))
      case Right(remap) => resolveThrough(
        broadcast(remap.toSeq.map { case ((m, o), n) => (m, o, n) }
          .toDF("r_m", "old_label", "new_label")))
      case Left(rel) =>
        // over-bound fallback: the closure joins as a RELATION and AQE
        // picks the strategy — the scale path pays a real join rather
        // than a driver materialization (warned; compaction restores
        // the broadcast fast path)
        resolveThrough(rel.select(col("modality").as("r_m"),
          col("old_label"), col("new_label")))
    }
  }

  // ---------------------------------------------------- streaming loop
  /** Streaming crawl loop WITH standing clusters — the
    * [[MediaDedupStore.judgeIngestStream]] shape extended one stage:
    * each micro-batch is judged against the standing fingerprint
    * store, its pairs MERGE into the standing cluster assignments,
    * THEN the batch's fingerprints ingest. Every stage reads only
    * batches < the replayed id, so an at-least-once redelivery
    * re-derives byte-identical partitions — PROVIDED the erasure state
    * is unchanged since the original application (a remap computed
    * from since-erased pairs is cross-batch state later batches build
    * on; erase after the stream quiesces, or follow with
    * [[reclusterFromPairs]] — the maintenance-cadence contract). The
    * divergence is real and
    * spec-pinned (MediaClusterStoreSpec "erase-while-streaming
    * caveat": a replay re-derives a remap that no longer names the
    * erased bridge, stranding a later batch's member on the vanished
    * label — suppression and historical topology hold throughout; a
    * re-arriving erased member is tombstone-filtered). The lineage
    * fence guards the shared batch-id space via the FINGERPRINT store
    * root. */
  def clusterIngestStream(stream: DataFrame, fpStorePath: String,
      clusterStorePath: String, threshold: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    graft.streaming.StreamingOps.lineageSink(stream) {
      (batch, batchId, lineage) =>
        applyClusterIngestBatch(batch, fpStorePath, clusterStorePath,
          batchId, lineage, threshold)
    }

  /** One judge+merge+ingest trigger (see [[clusterIngestStream]]). */
  private[graft] def applyClusterIngestBatch(batch: DataFrame,
      fpStorePath: String, clusterStorePath: String, batchId: Long,
      lineage: String, threshold: Int = 6): Unit = {
    val s = batch.sparkSession
    graft.streaming.StreamingOps.bindStoreLineage(s, fpStorePath,
      s"media fingerprint store at $fpStorePath", lineage)
    // BOTH stores' replay-horizon guards BEFORE any write: a refusal
    // mid-sequence (cluster batch landed, fingerprint ingest refused)
    // would leave media clustered whose fingerprints can never store
    // at this id — every later judge would silently miss them
    MediaDedupStore.requireIngestAllowed(s, fpStorePath, batchId)
    graft.rel.FoldWatermark.requireIngestAbove(s,
      assignDir(clusterStorePath), batchId)
    // erased keys neither judge, nor join clusters, nor re-ingest
    val b = graft.Checkpointing.truncate(
      MediaDedupStore.minusTombstones(s, fpStorePath,
        batch.select(col("media_id"), col("modality"), col("h"))))
    // keepReArrivals: the judge's equal-id matches are the "id
    // re-arrived under a NEW batch id" contract violation, and the
    // merge below collects its pairs anyway — applyClusterBatch fails
    // loudly on them (detected, not merely documented)
    val pairs = MediaDedupStore.judgeBatch(s, b, fpStorePath, batchId,
      threshold, keepReArrivals = true)
    // distinct: the applyClusterBatch member contract — a multi-probe
    // fingerprint stream (the flip tier's 8 rows/image) carries
    // several rows per member
    applyClusterBatch(s, b.select("media_id", "modality").distinct(),
      pairs.select("modality", "id_a", "id_b"), clusterStorePath,
      batchId)
    MediaDedupStore.applyFingerprintBatch(b, fpStorePath, batchId)
  }

  // ------------------------------------------------------- compaction
  /** Horizontal compaction: assignment batches ≤ `through` fold into
    * ONE `batch_id=through` partition with the remap closure ≤
    * `through` BAKED IN (labels written at batch b are already
    * resolved through remaps < b, so a remap at k ≤ through only ever
    * targets labels raw in batches ≤ k — the fold region — which is
    * what makes dropping the folded remap partitions sound), minus
    * tombstones; tombstones with no member row beyond the watermark
    * age out through the shared crash-safe log swap; remaps > through
    * keep applying at read. Reads identical before and after
    * (nq_media_clusters_compact re-proves the erasure oracle verbatim
    * on the compacted store). Crash windows: fold + kept materialize
    * before any file moves; re-applying a baked remap at read is a
    * no-op (targets are never keys), so a crash between the fold
    * write and the remap prune is benign; the prunes are idempotent
    * ([[graft.rel.Stores.pruneThrough]]). Compaction is a
    * replay horizon for ids ≤ `through` — the store-family
    * convention. */
  def compactThrough(s: SparkSession, storePath: String,
      through: Long): Unit = {
    // ONE implementation of the fold/prune/empty-fold/tombstone-age
    // crash discipline (the shared KeyedCompaction), with the remap
    // closure ≤ through baked into the fold through its transform
    // hook. The closure joins as a RELATION (pointer-doubled, never
    // collected — compaction is the remedy the bound names, so it
    // must handle an over-bound log without a driver materialization;
    // AQE broadcasts the small-log case by itself)
    val bakeIn = resolvedRemapsRelation(s, storePath, Some(through + 1))
    graft.rel.KeyedCompaction.compactThrough(s, assignDir(storePath),
      tombDir(storePath), tombNextDir(storePath),
      Seq("media_id", "modality"), through,
      foldTransform = old => bakeIn match {
        case None => old
        case Some(rel) => old.join(
            rel.select(col("modality").as("r_m"), col("old_label"),
              col("new_label")),
            col("modality") === col("r_m") &&
              col("label") === col("old_label"), "left")
          .select(col("media_id"), col("modality"),
            coalesce(col("new_label"), col("label")).as("label"))
      })
    // folded remap partitions (≤ through) are baked into the fold —
    // idempotent partition deletes, no swap needed; a fully-pruned log
    // deletes its root (the file-less-dir rule)
    graft.rel.Stores.pruneThrough(fsOf(s, storePath), remapDir(storePath),
      through + 1)
    deleteIfPartitionless(s, remapDir(storePath))
  }

  /** Maintenance RE-CLUSTER — the other half of the erase-while-
    * streaming contract ([[clusterIngestStream]]: "erase after the
    * stream quiesces, or follow with a re-cluster"): recompute every
    * surviving member's label as fresh min-label connected components
    * over the supplied PAIR EVIDENCE (the verdict store's relation,
    * after [[MediaDedupStore.scrubVerdicts]] removed pairs naming
    * erased ids — pairs are defensively tombstone-filtered here too),
    * folded into ONE `batch_id=through` partition with the remap log
    * pruned outright (a fresh clustering has no merge history). This
    * is also the STRICT erasure tier: standing reads keep topology
    * historical (reach through an erased member persists —
    * [[deleteMembers]]), while scrub + recluster erases the EVIDENCE,
    * so clusters bridged only by erased media split. Contract:
    * `through` ≥ the newest applied batch (a full-store maintenance
    * op at quiesce, like compaction it is a replay horizon); the CC
    * label join is a real shuffle over the corpus-sized assignment
    * relation — maintenance-cadence work, never the ingest path.
    * Crash discipline is [[graft.rel.KeyedCompaction]]'s (fold
    * materializes before any file moves; tombstones age through the
    * shared swap). The remap prune runs FIRST, unlike compaction's:
    * fresh CC labels are member ids, and member ids are exactly the
    * domain stale remaps map FROM — pruning after the fold would
    * leave a crash window where a stale remap re-applies to a fresh
    * label and mis-clusters (possibly to an erased lineage id).
    * Pruning first is convergent instead: a crash between the prune
    * and the fold leaves reads serving the pre-merge RAW labels until
    * the re-run lands — transient staleness at a quiesced maintenance
    * op, never wrong-by-evidence; the prune and the fold are each
    * idempotent. */
  def reclusterFromPairs(s: SparkSession, storePath: String,
      pairs: DataFrame, through: Long): Unit = {
    val aDir = assignDir(storePath)
    if (!hasBatches(s, aDir)) return
    // surviving members = assignment keys minus tombstones (labels
    // irrelevant — they are being recomputed)
    val members = graft.Checkpointing.truncate(minusTombstones(s,
      storePath, s.read.parquet(aDir).select("media_id", "modality"))
      .distinct())
    val cleanPairs = graft.Checkpointing.truncate(minusTombstonePairs(s,
      storePath, pairs.select(col("modality"), col("id_a"), col("id_b"))))
    // per-modality connected components (modalities are an enum-sized
    // driver list; the CC itself is the shared size-adaptive family
    // member). Node-induced: pair endpoints not in the surviving
    // member set (erased, or never clustered here) drop out.
    val mods = members.select("modality").distinct()
      .collect().map(_.getString(0))
    val labels = mods.map { m =>
      graft.text.DedupClusters.connectedComponents(
          members.filter(col("modality") === m)
            .select(col("media_id").as("doc_id")),
          cleanPairs.filter(col("modality") === m)
            .select(col("id_a").as("d1"), col("id_b").as("d2")))
        .select(col("doc_id").as("media_id"), lit(m).as("modality"),
          col("cluster_id").as("new_label"))
    }.reduceOption(_ union _)
      .getOrElse(members.select(col("media_id"), col("modality"),
        col("media_id").as("new_label")))
    // remap prune FIRST (see the crash-discipline scaladoc): the fold
    // below carries fresh labels, so the log is dead weight either way
    graft.rel.Stores.pruneThrough(fsOf(s, storePath), remapDir(storePath),
      through + 1)
    deleteIfPartitionless(s, remapDir(storePath))
    graft.rel.KeyedCompaction.compactThrough(s, aDir,
      tombDir(storePath), tombNextDir(storePath),
      Seq("media_id", "modality"), through,
      foldTransform = old =>
        old.drop("label")
          .join(labels, Seq("media_id", "modality"))
          .select(col("media_id"), col("modality"),
            col("new_label").as("label")))
  }

  // ------------------------------------- affected-component recluster
  private def planDir(p: String) = s"$p/_recluster_plan"
  private def planTmpDir(p: String) = s"${planDir(p)}_tmp"

  /** What an affected-recluster run detected and did — surfaced as a
    * VALUE so automated maintenance drivers monitor divergence and
    * off-contract evidence instead of parsing warn logs (ADVICE r16).
    * `crossingPairs` is the erase-while-streaming divergence
    * signature; non-zero means the run REPAIRED it (those pairs'
    * clusters joined the affected set). `unknownEndpointPairs` names
    * evidence this op had to ignore (endpoints absent from the store)
    * — the one case still requiring [[reclusterFromPairs]].
    * `divergenceChecked` says whether detection RAN at all: the op
    * gates on a standing tombstone log (the cheap entry check), and a
    * zero crossing count behind a false flag means "not checked", not
    * "checked and clean" — a driver monitoring divergence on a store
    * whose tombstones were aged out must escalate on the flag, not
    * read the zero as health. */
  final case class ReclusterStats(staged: Boolean,
      affectedClusters: Long, crossingPairs: Long,
      unknownEndpointPairs: Long, divergenceChecked: Boolean)

  /** AFFECTED-COMPONENT re-cluster — [[reclusterFromPairs]]'s
    * semantics restricted to the clusters an erasure OR a stream
    * divergence touched, at neighborhood cost instead of corpus cost
    * (the 100 TB maintenance path: a full recompute per erasure cycle
    * re-reads everything; the affected variant's work is proportional
    * to the touched clusters). Detection seeds TWO ways: (a) the
    * erased keys' raw assignment rows resolve to their cluster ids
    * (erasure-sized collect); (b) scrubbed evidence whose endpoints
    * resolve to DIFFERENT standing clusters — under the
    * merged-evidence invariant such a pair cannot exist, so each one
    * is the erase-while-streaming divergence signature
    * ([[clusterIngestStream]]'s replay caveat: a re-derived remap no
    * longer names the erased bridge and strands a later member), and
    * BOTH its clusters join the affected set (divergence-sized
    * collect), making the divergence repair neighborhood-cost too.
    * Affected members are one resolved read filtered by the broadcast
    * seed set; fresh labels are min-label CC over the surviving
    * affected members and the scrubbed, affected-restricted evidence
    * (restricted CC equals the global CC's restriction: within-cluster
    * evidence never leaves a cluster, and every cross-cluster pair's
    * clusters are IN the set by seeding (b) — only evidence naming
    * members absent from the store entirely is ignored, and that
    * residue warns loudly AND surfaces in the returned stats).
    * Mutation is partition-TARGETED (the scrubVerdicts discipline):
    * only assignment partitions holding an affected member rewrite
    * (tombstoned rows physically scrubbed, survivors relabeled raw),
    * and only remap partitions holding an entry that resolves into an
    * affected cluster rewrite (those entries drop — fresh labels are
    * member ids, exactly the domain stale remaps map from).
    *
    * Crash discipline — the staged-plan form of the family's swap
    * rule, because this op's PLANNING depends on state it mutates (a
    * half-applied run would mis-detect the affected set on re-entry):
    * the full plan (new content of every hit partition, both
    * relations, plus the hit lists) materializes under
    * `_recluster_plan_tmp` and RENAMES to `_recluster_plan` before
    * any store mutation; applying is pure idempotent partition
    * overwrites/deletes (remaps first — a transient raw-fragment
    * split is benign, the reverse order's stale-remap window can
    * mis-merge into erased lineage ids); the plan deletes LAST, and
    * every entry replays a standing plan before computing a fresh
    * one. Contract: quiesced (no concurrent merges), like
    * compaction. Detection gates on a standing tombstone log by
    * default (the cheap entry check — erasure is what creates both
    * tiers' work), and the returned stats say so honestly:
    * `divergenceChecked=false` marks the skipped detection, never a
    * zero that reads as "clean". `forceDivergenceCheck=true` runs the
    * crossing-evidence detection WITHOUT a tombstone log — the repair
    * for a diverged store whose tombstones were fully aged out by a
    * later compaction, at the cost of the resolved read on every
    * call (a maintenance-cadence scan; the default keeps no-op calls
    * at two FS probes). */
  def reclusterAffected(s: SparkSession, storePath: String,
      pairs: DataFrame,
      forceDivergenceCheck: Boolean = false): ReclusterStats = {
    val fs = fsOf(s, storePath)
    // recover an interrupted application: a standing plan is
    // authoritative (a half-written one never renamed and is discarded)
    fs.delete(pathOf(planTmpDir(storePath)), true)
    if (fs.exists(pathOf(planDir(storePath))))
      applyReclusterPlan(s, storePath)
    val stats = stageReclusterPlan(s, storePath, pairs,
      forceDivergenceCheck)
    if (stats.staged)
      applyReclusterPlan(s, storePath)
    // persist the outcome (tmp+rename) so Stores.maintenancePlan can
    // surface the LAST divergence check without re-running the op —
    // a skipped detection must never read as "checked and clean"
    writeReclusterMarker(fs, storePath, stats)
    stats
  }

  private def reclusterMarker(p: String) = s"$p/_last_recluster"

  private def writeReclusterMarker(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String, st: ReclusterStats): Unit = {
    val tmp = pathOf(s"${reclusterMarker(storePath)}_tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (s"staged=${st.staged};affected=${st.affectedClusters};" +
        s"crossing=${st.crossingPairs};" +
        s"unknown=${st.unknownEndpointPairs};" +
        s"divergence_checked=${st.divergenceChecked}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(pathOf(reclusterMarker(storePath)), false)
    require(fs.rename(tmp, pathOf(reclusterMarker(storePath))),
      s"cannot swap recluster marker into place at $storePath")
  }

  /** Remap-log pressure, metadata-only (listings + parquet footers —
    * no Spark job): (batch partitions, logged merge events, over the
    * session's collect bound?). None when no log stands. Read by
    * `Stores.maintenancePlan`: rows near/over the bound means
    * standing reads are in (or approaching) the pointer-doubled
    * over-bound regime — compaction restores the fast path. */
  private[graft] def remapLogPressure(s: SparkSession,
      storePath: String): Option[(Long, Long, Boolean)] = {
    val dir = remapDir(storePath)
    val fs = fsOf(s, dir)
    if (!fs.exists(pathOf(dir))) return None
    val conf = s.sparkContext.hadoopConfiguration
    val parts = fs.listStatus(pathOf(dir)).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id="))
    if (parts.isEmpty) return None
    val rows = parts.iterator.flatMap(p => fs.listStatus(p.getPath))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    val bound = math.min(
      s.conf.getOption(MaxRemapRowsConf).map(_.toLong)
        .getOrElse(DefaultMaxRemapRows),
      Int.MaxValue.toLong - 2)
    Some((parts.length.toLong, rows, rows > bound))
  }

  /** A staged-but-unapplied recluster plan stands (crash between
    * stage and apply) — the next reclusterAffected call applies it;
    * surfaced so the maintenance owner knows one is pending. */
  private[graft] def reclusterPlanPending(s: SparkSession,
      storePath: String): Boolean =
    fsOf(s, storePath).exists(pathOf(planDir(storePath)))

  /** The persisted outcome of the last [[reclusterAffected]] run
    * (None = never ran) — read by `Stores.maintenancePlan`. */
  private[graft] def lastReclusterStats(s: SparkSession,
      storePath: String): Option[ReclusterStats] = {
    val fs = fsOf(s, storePath)
    val p = pathOf(reclusterMarker(storePath))
    if (!fs.exists(p)) None
    else {
      val len = fs.getFileStatus(p).getLen
      require(len <= 256, s"corrupt recluster marker at $p: $len bytes")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      val kv = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        .trim.split(";").map(_.split("=", 2)).collect {
          case Array(k, v) => k -> v
        }.toMap
      Some(ReclusterStats(kv("staged").toBoolean, kv("affected").toLong,
        kv("crossing").toLong, kv("unknown").toLong,
        kv("divergence_checked").toBoolean))
    }
  }

  /** Compute + persist the plan (no store mutation); staged=false =
    * nothing affected. private[graft] so crash specs can stage
    * without applying. */
  private[graft] def stageReclusterPlan(s: SparkSession,
      storePath: String, pairs: DataFrame,
      forceDivergenceCheck: Boolean = false): ReclusterStats = {
    import s.implicits._
    val none = ReclusterStats(staged = false, 0L, 0L, 0L,
      divergenceChecked = false)
    val fs = fsOf(s, storePath)
    val aDir = assignDir(storePath)
    if (!hasBatches(s, aDir)) return none
    val tombDirOpt = graft.rel.TombstoneLog.readDir(fs,
      tombDir(storePath), tombNextDir(storePath))
    if (tombDirOpt.isEmpty && !forceDivergenceCheck) return none
    // forced mode with no log: detection proceeds tombstone-less
    // (seed (a) is empty; seed (b) carries the whole run)
    val tombs = broadcast(tombDirOpt
      .map(d => s.read.parquet(d)
        .select(col("media_id").as("ti"), col("modality").as("tm"))
        .distinct())
      .getOrElse(s.range(0)
        .select(col("id").as("ti"), lit("").as("tm"))))
    // one resolved read, reused for detection + membership
    val resolved =
      graft.Checkpointing.truncate(assignmentsFromStore(s, storePath))
    // seed (a): the erased keys' clusters — erasure-sized collect
    val tombSeeded = resolved.join(tombs,
        col("media_id") === col("ti") && col("modality") === col("tm"),
        "left_semi")
      .select("modality", "cluster_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // seed (b): clusters reachable from boundary-CROSSING evidence —
    // scrubbed pairs whose endpoints resolve to different standing
    // clusters (the erase-while-streaming divergence signature; under
    // the merged-evidence invariant none exist, so this is
    // divergence-sized). Endpoint labels come from one semi-join of
    // the resolved read against the evidence's endpoint set
    // (endpoint-sized output), then two endpoint-keyed joins back
    // onto the pairs — never a corpus shuffle of the evidence.
    val scrubbed = graft.Checkpointing.truncate(minusTombstonePairs(s,
      storePath, pairs.select(col("modality"), col("id_a"), col("id_b"))))
    val eps = scrubbed.select(col("modality").as("e_m"),
        col("id_a").as("e_id"))
      .union(scrubbed.select(col("modality").as("e_m"),
        col("id_b").as("e_id")))
      .distinct()
    val epCids = graft.Checkpointing.truncate(resolved.join(eps,
        col("modality") === col("e_m") && col("media_id") === col("e_id"),
        "left_semi")
      .select(col("modality").as("p_m"), col("media_id").as("p_id"),
        col("cluster_id").as("p_cid")))
    val withCids = graft.Checkpointing.truncate(scrubbed
      .join(epCids.select(col("p_m").as("am"), col("p_id").as("ai"),
          col("p_cid").as("cid_a")),
        col("modality") === col("am") && col("id_a") === col("ai"), "left")
      .join(epCids.select(col("p_m").as("bm"), col("p_id").as("bi"),
          col("p_cid").as("cid_b")),
        col("modality") === col("bm") && col("id_b") === col("bi"), "left")
      .select(col("modality"), col("id_a"), col("id_b"),
        col("cid_a"), col("cid_b")))
    // evidence naming members ABSENT from the store is the one class
    // this op cannot repair (nothing to relabel) — ignored, warned,
    // and surfaced in the stats so drivers can escalate
    val unknown = withCids
      .filter(col("cid_a").isNull || col("cid_b").isNull).count()
    if (unknown > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"reclusterAffected at $storePath: $unknown evidence pairs " +
          "name members absent from the store — ignored by the " +
          "targeted recompute; run reclusterFromPairs if that " +
          "evidence must take effect")
    val crossRel = withCids.filter(col("cid_a").isNotNull &&
      col("cid_b").isNotNull && col("cid_a") =!= col("cid_b"))
    val crossSeeded = crossRel
      .select(col("modality"), col("cid_a"), col("cid_b")).distinct()
      // divergence-sized collect (zero on a consistent store)
      .collect().flatMap(r => Seq((r.getString(0), r.getLong(1)),
        (r.getString(0), r.getLong(2))))
    val crossing = if (crossSeeded.isEmpty) 0L else crossRel.count()
    if (crossing > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"reclusterAffected at $storePath: $crossing evidence pairs " +
          "cross standing cluster boundaries (the erase-while-" +
          "streaming divergence signature, or evidence never merged) " +
          "— their clusters JOIN the affected set and this run " +
          "repairs them at neighborhood cost")
    val affectedIds = (tombSeeded ++ crossSeeded).distinct
    // nothing affected: report what detection SAW anyway (unknown
    // evidence still matters to a maintenance driver)
    if (affectedIds.isEmpty)
      return ReclusterStats(staged = false, 0L, crossing, unknown,
        divergenceChecked = true)
    val affIds = broadcast(affectedIds.toSeq.toDF("a_m", "a_cid"))
    val affectedKeys = graft.Checkpointing.truncate(resolved.join(affIds,
        col("modality") === col("a_m") &&
          col("cluster_id") === col("a_cid"), "left_semi")
      .select("media_id", "modality"))
    // fresh labels: min-label CC over surviving affected members and
    // the scrubbed, affected-restricted evidence (crossing pairs have
    // BOTH endpoints affected by seeding (b), so the restriction only
    // drops within-unaffected and unknown-endpoint evidence)
    val survivors = graft.Checkpointing.truncate(
      minusTombstones(s, storePath, affectedKeys))
    def onlyAffected(p: DataFrame, idCol: String) = p.join(
      affectedKeys.select(col("media_id").as(s"k_$idCol"),
        col("modality").as(s"km_$idCol")),
      col(idCol) === col(s"k_$idCol") &&
        col("modality") === col(s"km_$idCol"), "left_semi")
    val cleanPairs = graft.Checkpointing.truncate(
      onlyAffected(onlyAffected(scrubbed, "id_a"), "id_b"))
    val mods = survivors.select("modality").distinct()
      .collect().map(_.getString(0))
    val labels = mods.map { m =>
      graft.text.DedupClusters.connectedComponents(
          survivors.filter(col("modality") === m)
            .select(col("media_id").as("doc_id")),
          cleanPairs.filter(col("modality") === m)
            .select(col("id_a").as("d1"), col("id_b").as("d2")))
        .select(col("doc_id").as("media_id"), lit(m).as("modality"),
          col("cluster_id").as("new_label"))
    }.reduceOption(_ union _)
      .getOrElse(survivors.select(col("media_id"), col("modality"),
        col("media_id").as("new_label")))
    // hit ASSIGNMENT partitions: those holding an affected member
    val withBatch = s.read.parquet(aDir)
    val hitAssign = withBatch.join(
        affectedKeys.select(col("media_id").as("h_id"),
          col("modality").as("h_m")),
        col("media_id") === col("h_id") && col("modality") === col("h_m"),
        "left_semi")
      .select("batch_id").distinct().collect().map(_.get(0).toString)
    // their full new content: tombstoned rows scrubbed, affected
    // survivors relabeled raw, unaffected co-residents untouched
    val planAssign = withBatch
      .filter(col("batch_id").isInCollection(hitAssign.map(_.toLong)))
      .join(tombs,
        col("media_id") === col("ti") && col("modality") === col("tm"),
        "left_anti")
      .join(labels, Seq("media_id", "modality"), "left")
      .select(col("media_id"), col("modality"),
        coalesce(col("new_label"), col("label")).as("label"),
        col("batch_id"))
    // hit REMAP partitions: entries whose chain-resolved target is an
    // affected cluster id (their FROM-labels are affected-component
    // history; fresh labels would collide with them at read)
    val remapState = remapLog(s, storePath, None).map { _ =>
      // hit-detection closure: the bounded driver map broadcasts (one
      // cheap collect — not a second pointer-doubling run); only the
      // over-bound regime pays a distributed resolution here alongside
      // the detection read's (memoized, so usually free by now)
      val rel = remapsResolved(s, storePath, None) match {
        case Right(m) =>
          broadcast(m.toSeq.map { case ((mm, o), n) => (mm, o, n) }
            .toDF("c_m", "c_old", "c_fin"))
        case Left(r) => r.select(col("modality").as("c_m"),
          col("old_label").as("c_old"),
          col("new_label").as("c_fin"))
      }
      val rawR = s.read.parquet(remapDir(storePath))
      val withFin = rawR.join(rel,
        col("modality") === col("c_m") && col("old_label") === col("c_old"))
      val dropping = withFin.join(affIds,
        col("modality") === col("a_m") && col("c_fin") === col("a_cid"),
        "left_semi")
      val hit = dropping.select("batch_id").distinct()
        .collect().map(_.get(0).toString)
      val kept = withFin
        .filter(col("batch_id").isInCollection(hit.map(_.toLong)))
        .join(affIds,
          col("modality") === col("a_m") && col("c_fin") === col("a_cid"),
          "left_anti")
        .select("modality", "old_label", "new_label", "batch_id")
      (hit, kept)
    }
    // ---- persist the plan: tmp dir, then ATOMIC rename (a crash
    // mid-write leaves only the tmp, which re-entry discards)
    val tmp = planTmpDir(storePath)
    fs.delete(pathOf(tmp), true)
    planAssign.write.parquet(s"$tmp/assign")
    remapState.foreach { case (_, kept) =>
      kept.write.parquet(s"$tmp/remaps") }
    (hitAssign.map(("assign", _)) ++
        remapState.map(_._1).getOrElse(Array.empty[String])
          .map(("remaps", _)))
      .toSeq.toDF("kind", "part")
      .coalesce(1).write.parquet(s"$tmp/meta")
    fs.delete(pathOf(planDir(storePath)), true)
    require(fs.rename(pathOf(tmp), pathOf(planDir(storePath))),
      s"could not stage recluster plan at ${planDir(storePath)}")
    ReclusterStats(staged = true, affectedIds.length.toLong, crossing,
      unknown, divergenceChecked = true)
  }

  /** Apply a staged plan — pure idempotent partition overwrites and
    * deletes, remaps first; re-runnable from any prefix. `phases`
    * (private[graft]) lets crash specs stop after the remap half. */
  private[graft] def applyReclusterPlan(s: SparkSession,
      storePath: String, phases: Int = 2): Unit = {
    val fs = fsOf(s, storePath)
    val plan = planDir(storePath)
    if (!fs.exists(pathOf(plan))) return
    val meta = s.read.parquet(s"$plan/meta")
      .collect().map(r => (r.getString(0), r.getString(1)))
    def applyOne(kind: String, dataDir: String, src: String): Unit = {
      val hit = meta.filter(_._1 == kind).map(_._2)
      if (hit.isEmpty) return
      val content =
        if (fs.exists(pathOf(src))) s.read.parquet(src) else null
      val present: Set[String] =
        if (content == null) Set.empty
        else content.select("batch_id").distinct()
          .collect().map(_.get(0).toString).toSet
      if (content != null && present.nonEmpty)
        content.write
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .mode("overwrite").parquet(dataDir)
      hit.filterNot(present).foreach(p =>
        fs.delete(pathOf(s"$dataDir/batch_id=$p"), true))
      // a fully-emptied relation drops its root (the file-less rule)
      deleteIfPartitionless(s, dataDir)
    }
    applyOne("remaps", remapDir(storePath), s"$plan/remaps")
    if (phases >= 2) {
      applyOne("assign", assignDir(storePath), s"$plan/assign")
      fs.delete(pathOf(plan), true)
    }
  }

  /** Anti-join pair EVIDENCE against the cluster tombstone log on
    * either endpoint (the scrubVerdicts predicate, applied at
    * recluster time in case the caller's evidence is unscrubbed). */
  private def minusTombstonePairs(s: SparkSession, storePath: String,
      pairs: DataFrame): DataFrame =
    graft.rel.TombstoneLog.readDir(fsOf(s, storePath),
        tombDir(storePath), tombNextDir(storePath)) match {
      case None => pairs
      case Some(dir) =>
        val tombs = broadcast(s.read.parquet(dir)
          .select(col("media_id").as("ti"), col("modality").as("tm"))
          .distinct())
        def hits(idCol: String) =
          col(idCol) === col("ti") && col("modality") === col("tm")
        pairs.join(tombs, hits("id_a"), "left_anti")
          .join(tombs, hits("id_b"), "left_anti")
          .select("modality", "id_a", "id_b")
    }

  /** The post-erasure view: tombstoned members suppressed, and the
    * served cluster_id RE-ELECTED to the min surviving member per
    * resolved cluster (erasing a cluster's min must not leave keepers
    * pointing at erased media — is_keeper downstream is
    * `media_id == cluster_id` and keepers must be real rows). One
    * scan + the broadcast closures + ONE cluster-keyed window min —
    * no corpus re-cluster. */
  def survivingAssignments(s: SparkSession, storePath: String,
      asOfBatch: Option[Long] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("modality", "cluster_id")
    // tombstones apply at EVERY as-of (erasure is not rewindable)
    minusTombstones(s, storePath,
        assignmentsFromStore(s, storePath, asOfBatch))
      .withColumn("elected", min(col("media_id")).over(w))
      .select(col("media_id"), col("modality"),
        col("elected").as("cluster_id"))
  }

  // --------------------------------------------------- contract entry
  /** nq_media_clusters_inc: the planted image corpus (exactly
    * [[ImageDedup.nqImageDedupClusters]]'s) arrives as 3 fingerprint
    * batches; each batch is judged against the fingerprint store-so-far
    * and its pairs MERGE into the standing assignments (union-find over
    * labels, never a corpus re-cluster). The final store read must
    * equal the one-shot connected components, so the oracle is
    * nq_image_dedup_clusters' recursive-CTE SQL VERBATIM over the full
    * pair history — a merge miss, a remap-chain break, or a fence leak
    * all hash-fail through the full assignment. */
  /** The crawl loop: each of 3 replayed fingerprint batches is judged
    * against the fingerprint store-so-far, its verdicts (through the
    * modality's `verdictPolicy`) MERGE into the standing assignments,
    * then the batch ingests. Returns the cluster-store path. */
  private def crawlHistory(s: SparkSession, fps: DataFrame,
      batchOf: Column, root: java.nio.file.Path,
      verdictPolicy: DataFrame => DataFrame): String = {
    val fpPath = s"$root/fp"
    val clPath = s"$root/cl"
    MediaDedupStore.replayBatches(fps, batchOf) { (batch, b) =>
      val prs = verdictPolicy(
        MediaDedupStore.judgeBatch(s, batch, fpPath, b))
      applyClusterBatch(s, batch.select("media_id", "modality"),
        prs.select("modality", "id_a", "id_b"), clPath, b)
      MediaDedupStore.applyFingerprintBatch(batch, fpPath, b)
    }
    clPath
  }

  /** The shared 3-batch crawl history over the planted image corpus. */
  private def buildClusterHistory(s: SparkSession, images: DataFrame,
      root: java.nio.file.Path): String =
    crawlHistory(s, ImageDedup.dhashes(images)
        .select(col("image_id").as("media_id"),
          lit("image").as("modality"), col("h")),
      MediaDedupStore.byMediaId, root, identity)

  def nqMediaClustersInc(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val store = graft.FixtureMemo.store("mediaclusters", d)(
      buildClusterHistory(s, images, _))
    assignmentsFromStore(s, store)
      .select(col("media_id").as("image_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  // ------------------------------------------------- erasure entry
  /** nq_media_clusters_delete: the same 3-batch history, then ALL
    * brightness-pair BASE images (media_id ≡ 0 mod 10 — each one the
    * MIN of its cluster) erase, and the store is read through
    * [[survivingAssignments]]. The oracle recomputes the q63 reach
    * over the FULL history (topology is historical — reach through
    * erased members persists), drops erased members, and re-elects
    * cluster_id = min surviving per component — so a membership leak,
    * a keeper pointing at erased media, or an over-eager erasure that
    * splits a cluster all hash-fail. */
  def nqMediaClustersDelete(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val store = graft.FixtureMemo.store("mediaclustersdel", d) { root =>
      val cl = buildClusterHistory(s, images, root)
      deleteMembers(
        graft.Tables.documents(s, d)
          .select(col("doc_id").as("media_id"))
          .filter(pmod(col("media_id"), lit(10)) === 0)
          .withColumn("modality", lit("image")),
        cl, 0L)
      cl
    }
    survivingAssignments(s, store)
      .select(col("media_id").as("image_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  private[sources] val nqMediaClustersDeleteSql: String =
    s"""${ImageDedup.clusterReachCtes},
       |comp AS (
       |  SELECT doc_id, min(label) AS label FROM reach GROUP BY doc_id),
       |surv AS (
       |  SELECT doc_id, label FROM comp
       |  WHERE NOT (doc_id % 10 = 0 AND doc_id < 1000000)),
       |relabel AS (
       |  SELECT label, min(doc_id) AS cluster_id FROM surv
       |  GROUP BY label)
       |SELECT s.doc_id AS image_id, r.cluster_id,
       |  (s.doc_id = r.cluster_id) AS is_keeper
       |FROM surv s JOIN relabel r ON r.label = s.label
       |ORDER BY image_id""".stripMargin

  // ----------------------------------------------- compaction entry
  /** nq_media_clusters_compact: the delete entry's exact history —
    * 3 merged batches + the base-image erasure — then
    * [[compactThrough]](1) folds batches 0-1 (remap closure baked in,
    * tombstones applied, erasure log aged), and the store is read
    * through the SAME surviving view. The oracle is
    * nq_media_clusters_delete's SQL VERBATIM (the
    * q81/nq_graph_compact shared-SQL pattern): compaction must be
    * invisible through the full relabeled assignment — a lost member,
    * a mis-baked remap chain, or a resurrected erased key all
    * hash-fail. */
  def nqMediaClustersCompact(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val store = graft.FixtureMemo.store("mediaclusterscompact", d) { root =>
      val cl = buildClusterHistory(s, images, root)
      deleteMembers(
        graft.Tables.documents(s, d)
          .select(col("doc_id").as("media_id"))
          .filter(pmod(col("media_id"), lit(10)) === 0)
          .withColumn("modality", lit("image")),
        cl, 0L)
      compactThrough(s, cl, through = 1L)
      cl
    }
    survivingAssignments(s, store)
      .select(col("media_id").as("image_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  // -------------------------------------------- strict-tier entry
  /** nq_media_clusters_strict: the STRICT erasure tier end-to-end —
    * the delete entry's exact history (3 merged batches + the
    * base-image erasure), then [[reclusterFromPairs]] recomputes every
    * surviving member's label from the surviving PAIR EVIDENCE (the
    * one-shot pair relation; pairs naming erased ids are filtered by
    * the op). Where nq_media_clusters_delete proves topology stays
    * HISTORICAL on standing reads (reach through erased members
    * persists), this entry proves scrub + recluster erases the
    * EVIDENCE: brightness pairs whose base was erased split into
    * singleton copies. The oracle rebuilds the reach over pairs with
    * BOTH endpoints surviving, nodes = surviving members — an
    * independent derivation of the same strict semantic, so a member
    * leak, a stale remap surviving the prune, or an un-split bridge
    * all hash-fail. */
  def nqMediaClustersStrict(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val store = graft.FixtureMemo.store("mediaclustersstrict", d) { root =>
      val cl = buildClusterHistory(s, images, root)
      deleteMembers(
        graft.Tables.documents(s, d)
          .select(col("doc_id").as("media_id"))
          .filter(pmod(col("media_id"), lit(10)) === 0)
          .withColumn("modality", lit("image")),
        cl, 0L)
      // the full pair evidence (the one-shot relation the crawl's
      // verdict store accumulates); the op scrubs erased endpoints
      val pairs = ImageDedup.nearDupPairs(
          ImageDedup.dhashes(images))
        .select(lit("image").as("modality"),
          col("img_a").as("id_a"), col("img_b").as("id_b"))
      reclusterFromPairs(s, cl, pairs, through = 2L)
      cl
    }
    survivingAssignments(s, store)
      .select(col("media_id").as("image_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  private[sources] val nqMediaClustersStrictSql: String =
    s"""${ImageDedup.clusterPairCtes},
       |erased AS (
       |  SELECT image_id FROM (SELECT DISTINCT image_id FROM lum)
       |  WHERE image_id % 10 = 0 AND image_id < 1000000),
       |spairs AS (
       |  SELECT d1, d2 FROM pairs
       |  WHERE d1 NOT IN (SELECT image_id FROM erased)
       |    AND d2 NOT IN (SELECT image_id FROM erased)),
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM spairs
       |  UNION SELECT d2, d1 FROM spairs),
       |nodes AS (
       |  SELECT image_id FROM (SELECT DISTINCT image_id FROM lum)
       |  WHERE NOT (image_id % 10 = 0 AND image_id < 1000000)),
       |reach(doc_id, label) AS (
       |  SELECT image_id, image_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.doc_id)
       |SELECT doc_id AS image_id, min(label) AS cluster_id,
       |  (doc_id = min(label)) AS is_keeper
       |FROM reach GROUP BY doc_id ORDER BY image_id""".stripMargin

  // ------------------------------------ affected-recluster entry
  /** nq_media_clusters_affected: [[reclusterAffected]] end-to-end on
    * the delete history — same semantics as the strict entry, at
    * erasure-neighborhood cost, so the oracle is
    * nq_media_clusters_strict's SQL VERBATIM (the q81 shared-SQL
    * discipline): restricted recompute must be indistinguishable from
    * the full one through the whole served assignment — an affected-set
    * miss, a stale remap surviving its targeted drop, or a corrupted
    * co-resident row all hash-fail. */
  def nqMediaClustersAffected(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val store = graft.FixtureMemo.store("mediaclustersaffected", d) { root =>
      val cl = buildClusterHistory(s, images, root)
      deleteMembers(
        graft.Tables.documents(s, d)
          .select(col("doc_id").as("media_id"))
          .filter(pmod(col("media_id"), lit(10)) === 0)
          .withColumn("modality", lit("image")),
        cl, 0L)
      val pairs = ImageDedup.nearDupPairs(
          ImageDedup.dhashes(images))
        .select(lit("image").as("modality"),
          col("img_a").as("id_a"), col("img_b").as("id_b"))
      reclusterAffected(s, cl, pairs)
      cl
    }
    survivingAssignments(s, store)
      .select(col("media_id").as("image_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  // ------------------------------------------------ text genericity
  /** nq_text_clusters_inc: the cluster store is MODALITY-GENERIC — the
    * text dedup member plugs in unchanged. The documents corpus
    * arrives as 3 batches; each batch's near-dup pairs come from the
    * existing incremental MinHash path ((new × corpus-so-far) ∪
    * (new × new) — [[graft.text.NearDup.minhashNeardupIncremental]],
    * whose union over the history equals the one-shot banded pair set)
    * and MERGE into the same standing assignments the media entries
    * maintain, under modality 'text'. The final read must equal the
    * one-shot banded clustering, so the oracle is nq_dedup_clusters'
    * SQL verbatim (the full MinHash hash-family replica + recursive
    * reach) — one cluster store serves text AND media. */
  def nqTextClustersInc(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val store = graft.FixtureMemo.store("textclusters", d) { root =>
      val clPath = s"$root/cl"
      (0 until 3).foreach { b =>
        val batch = docs.filter(pmod(col("doc_id"), lit(3)) === b)
        val earlier = docs.filter(pmod(col("doc_id"), lit(3)) < b)
        val pairs = graft.text.NearDup
          .minhashNeardupIncremental(earlier, batch)
        applyClusterBatch(s,
          batch.select(col("doc_id").as("media_id"),
            lit("text").as("modality")),
          pairs.select(lit("text").as("modality"),
            col("d1").as("id_a"), col("d2").as("id_b")),
          clPath, b.toLong)
      }
      clPath
    }
    assignmentsFromStore(s, store)
      .select(col("media_id").as("doc_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  // --------------------------------------- audio/video modality proof
  /** nq_audio_clusters_inc: the planted clip corpus (exactly
    * [[graft.audio.AudioDedup.nqAudioNeardup]]'s) arrives as 3
    * fingerprint batches through the SAME judge → cluster-merge →
    * ingest loop the image and text members use — completing the
    * cluster-modality matrix by PROOF, not plumbing (the store is
    * modality-generic by construction). The final read must equal the
    * one-shot clustering over the audio pair relation, so the oracle
    * composes the one-shot pair CTEs VERBATIM
    * ([[graft.audio.AudioDedup.pairCtes]]) with the q63-shape
    * recursive reach. */
  def nqAudioClustersInc(s: SparkSession, d: String): DataFrame = {
    val clips = graft.audio.AudioDedup.generateDedupClips(s, d)
    graft.audio.AudioDedup.dumpGrids(s, clips)
    val store = graft.FixtureMemo.store("audioclusters", d)(
      crawlHistory(s, graft.audio.AudioDedup.fingerprints(clips)
          .select(col("clip_id").as("media_id"),
            lit("audio").as("modality"), col("h")),
        MediaDedupStore.byMediaId, _, identity))
    assignmentsFromStore(s, store)
      .select(col("media_id").as("clip_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("clip_id")
  }

  private[sources] lazy val nqAudioClustersIncSql: String =
    s"""WITH RECURSIVE ${graft.audio.AudioDedup.pairCtes},
       |p2 AS (
       |  SELECT clip_a AS d1, clip_b AS d2 FROM pairs
       |  WHERE hamming <= 6),
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM p2
       |  UNION SELECT d2, d1 FROM p2),
       |nodes AS (SELECT DISTINCT clip_id FROM grid),
       |reach(clip_id, label) AS (
       |  SELECT clip_id, clip_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.clip_id)
       |SELECT clip_id, min(label) AS cluster_id,
       |  (clip_id = min(label)) AS is_keeper
       |FROM reach GROUP BY clip_id ORDER BY clip_id""".stripMargin

  /** nq_video_clusters_inc: the scene-structured keyframe corpus
    * (exactly [[VideoDedup.nqVideoKeyframes]]'s) arrives as 3
    * fingerprint batches keyed by VIDEO (the
    * [[MediaDedupStore.nqVideoKeyframesStore]] crawl unit); duplicate
    * VERDICTS are the cross-video reuse pairs only (within-video
    * keyframe similarity is static-scene detection, not duplication —
    * the one-shot entry's convention), and those merge into standing
    * keyframe clusters. The oracle composes the one-shot selection +
    * pair CTEs VERBATIM ([[VideoDedup.keyframePairCtes]]) with the
    * q63-shape recursive reach over keyframe nodes. */
  def nqVideoClustersInc(s: SparkSession, d: String): DataFrame = {
    val vids = VideoDedup.generateSceneVideos(s, d)
    ImageSource.dumpPixels(s, VideoDedup.frames(vids), resizeTo = 9,
      tag = "vkf9")
    // verdicts keep the cross-video pairs only
    val store = graft.FixtureMemo.store("videoclusters", d)(
      crawlHistory(s, VideoDedup.keyframeFingerprints(s, d),
        MediaDedupStore.byVideoId, _,
        _.filter(expr("id_a DIV 100") =!= expr("id_b DIV 100"))))
    assignmentsFromStore(s, store)
      .select(col("media_id").as("frame_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("frame_id")
  }

  private[sources] lazy val nqVideoClustersIncSql: String =
    s"""WITH RECURSIVE ${VideoDedup.keyframePairCtes},
       |p2 AS (
       |  SELECT img_a AS d1, img_b AS d2 FROM pairs
       |  WHERE hamming <= 6 AND img_a // 100 <> img_b // 100),
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM p2
       |  UNION SELECT d2, d1 FROM p2),
       |nodes AS (SELECT image_id FROM kf),
       |reach(frame_id, label) AS (
       |  SELECT image_id, image_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.frame_id)
       |SELECT frame_id, min(label) AS cluster_id,
       |  (frame_id = min(label)) AS is_keeper
       |FROM reach GROUP BY frame_id ORDER BY frame_id""".stripMargin

  // ------------------------------------------ joint-modality entry
  /** nq_media_clusters_joint: ONE batch carries image AND audio AND
    * video fingerprints through ONE judge → merge → ingest pass —
    * proof at the contract tier that the crawl loop needs no
    * per-modality orchestration (the unit isolation spec pins that
    * identical numeric ids across modalities never merge; this entry
    * proves the composed pipeline against the drivers' oracles). The
    * only modality-aware term is the VERDICT POLICY the video
    * one-shot entry defines (within-video keyframe similarity is
    * static-scene detection, not duplication) — one filter line over
    * the joint pair relation, not a separate pipeline. The oracle is
    * the UNION of the three one-shot clustering SQLs, each modality's
    * shared pair CTEs verbatim (the q81 discipline) composed with the
    * q63-shape recursive reach — so a cross-modality merge, a lost
    * modality, or any single modality's pair drift all hash-fail
    * through the full joint assignment. */
  def nqMediaClustersJoint(s: SparkSession, d: String): DataFrame = {
    val images = ImageDedup.generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = 9, tag = "dedup9")
    val clips = graft.audio.AudioDedup.generateDedupClips(s, d)
    graft.audio.AudioDedup.dumpGrids(s, clips)
    val vids = VideoDedup.generateSceneVideos(s, d)
    ImageSource.dumpPixels(s, VideoDedup.frames(vids), resizeTo = 9,
      tag = "vkf9")
    val store = graft.FixtureMemo.store("jointclusters", d) { root =>
      val fpPath = s"$root/fp"
      val clPath = s"$root/cl"
      val batch = graft.Checkpointing.truncate(ImageDedup.dhashes(images)
          .select(col("image_id").as("media_id"),
            lit("image").as("modality"), col("h"))
        .unionAll(graft.audio.AudioDedup.fingerprints(clips)
          .select(col("clip_id").as("media_id"),
            lit("audio").as("modality"), col("h")))
        .unionAll(VideoDedup.keyframeFingerprints(s, d)))
      val prs = MediaDedupStore.judgeBatch(s, batch, fpPath, 0L)
        // the video verdict policy, one line over the joint pairs
        .filter(col("modality") =!= "video" ||
          expr("id_a DIV 100") =!= expr("id_b DIV 100"))
      applyClusterBatch(s,
        batch.select("media_id", "modality").distinct(),
        prs.select("modality", "id_a", "id_b"), clPath, 0L)
      MediaDedupStore.applyFingerprintBatch(batch, fpPath, 0L)
      clPath
    }
    assignmentsFromStore(s, store)
      .select(col("modality"), col("media_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("modality", "media_id")
  }

  /** The three one-shot clustering SQLs, UNIONed: the shared pair
    * CTE prefixes verbatim, each inside its own subquery scope (the
    * modalities' CTE names collide — `pairs` in all three — so each
    * gets its own WITH RECURSIVE). */
  private[sources] lazy val nqMediaClustersJointSql: String =
    s"""SELECT * FROM (
       |${ImageDedup.clusterReachCtes}
       |SELECT 'image' AS modality, doc_id AS media_id,
       |  min(label) AS cluster_id,
       |  (doc_id = min(label)) AS is_keeper
       |FROM reach GROUP BY doc_id)
       |UNION ALL
       |SELECT * FROM (
       |WITH RECURSIVE ${graft.audio.AudioDedup.pairCtes},
       |p2 AS (
       |  SELECT clip_a AS d1, clip_b AS d2 FROM pairs
       |  WHERE hamming <= 6),
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM p2
       |  UNION SELECT d2, d1 FROM p2),
       |nodes AS (SELECT DISTINCT clip_id FROM grid),
       |reach(clip_id, label) AS (
       |  SELECT clip_id, clip_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.clip_id)
       |SELECT 'audio' AS modality, clip_id AS media_id,
       |  min(label) AS cluster_id,
       |  (clip_id = min(label)) AS is_keeper
       |FROM reach GROUP BY clip_id)
       |UNION ALL
       |SELECT * FROM (
       |WITH RECURSIVE ${VideoDedup.keyframePairCtes},
       |p2 AS (
       |  SELECT img_a AS d1, img_b AS d2 FROM pairs
       |  WHERE hamming <= 6 AND img_a // 100 <> img_b // 100),
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM p2
       |  UNION SELECT d2, d1 FROM p2),
       |nodes AS (SELECT image_id FROM kf),
       |reach(frame_id, label) AS (
       |  SELECT image_id, image_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.frame_id)
       |SELECT 'video' AS modality, frame_id AS media_id,
       |  min(label) AS cluster_id,
       |  (frame_id = min(label)) AS is_keeper
       |FROM reach GROUP BY frame_id)
       |ORDER BY modality, media_id""".stripMargin

  // ------------------------------------- benched merge serving path
  /** The standing cluster state over the synthetic bench corpus'
    * 19 store residues: the judge-bench store's three fenced batches
    * ([[MediaDedupStore.judgeBenchStore]] — already grouped exactly as
    * ingested) each judged with its own fence and merged. Built once
    * per immutable dir (the store-family bench amortization). */
  private def buildMergeClusterStore(s: SparkSession, d: String,
      root: java.nio.file.Path): String = {
    val fpStore = MediaDedupStore.judgeBenchStore(s, d)
    val clPath = s"$root/cl"
    MediaDedupStore.replayBatches(MediaDedupStore.judgeBenchHistory(s, d),
        MediaDedupStore.byBenchResidue) { (batch, b) =>
      val prs = MediaDedupStore.judgeBatch(s, batch, fpStore, b)
      applyClusterBatch(s, batch.select("media_id", "modality"),
        prs.select("modality", "id_a", "id_b"), clPath, b)
    }
    clPath
  }

  /** The merge store, memoized per immutable dir (nq_cluster_merge). */
  private[graft] def probeMergeStore(s: SparkSession, d: String): String =
    graft.FixtureMemo.store("clustermerge", d)(
      buildMergeClusterStore(s, d, _))

  /** nq_cluster_merge: the cluster analogue of nq_media_judge — the
    * MERGE serving path, benched. The standing assignments over the
    * synthetic corpus' 19 store residues are memoized per immutable
    * dir; the timed path is ONE precomputed-pairs merge (batch 19 —
    * an idempotent REPLAY on every later run: reads fence < 19, so
    * repeat bench runs re-derive identical partitions; the pairs are
    * a memoized judge-output fixture, so no judging is re-billed —
    * nq_media_judge already watches that) plus the
    * standing-assignment read. A merge-path regression (an accidental
    * corpus-sized resolve, a lost fence, a read shuffle) jumps this
    * number. The oracle is the one-shot min-label connected
    * components over ALL near-dup pairs of the synthetic corpus — the
    * XXH64-replica zero-dump tier composed with the q63-shape reach —
    * so a merge miss, a remap-chain break, or a fence leak hash-fail
    * through the full assignment. */
  def nqClusterMerge(s: SparkSession, d: String): DataFrame = {
    val store = probeMergeStore(s, d)
    val batch = MediaDedupStore.judgeBenchBatch(s, d)
    val pairs = graft.FixtureMemo.parquet(s, "clustermergepairs", d)(
      MediaDedupStore.judgeBatch(s, batch,
        MediaDedupStore.judgeBenchStore(s, d), 19L))
    applyClusterBatch(s, batch.select("media_id", "modality"),
      pairs.select("modality", "id_a", "id_b"), store, 19L)
    assignmentsFromStore(s, store)
      .select(col("media_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("media_id")
  }

  private[sources] lazy val nqClusterMergeSql: String =
    s"""WITH RECURSIVE ${MediaDedupStore.syntheticFpCtes},
       |cpairs AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b
       |  FROM fp a JOIN fp b ON a.media_id < b.media_id
       |  WHERE bit_count(xor(a.h, b.h)) <= 6),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM cpairs
       |  UNION SELECT id_b, id_a FROM cpairs),
       |nodes AS (SELECT media_id FROM fp),
       |reach(media_id, label) AS (
       |  SELECT media_id, media_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.media_id)
       |SELECT media_id, min(label) AS cluster_id,
       |  (media_id = min(label)) AS is_keeper
       |FROM reach GROUP BY media_id ORDER BY media_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_media_clusters_inc" -> (nqMediaClustersInc _),
    "nq_media_clusters_delete" -> (nqMediaClustersDelete _),
    "nq_media_clusters_compact" -> (nqMediaClustersCompact _),
    "nq_text_clusters_inc" -> (nqTextClustersInc _),
    "nq_media_clusters_strict" -> (nqMediaClustersStrict _),
    "nq_media_clusters_affected" -> (nqMediaClustersAffected _),
    "nq_audio_clusters_inc" -> (nqAudioClustersInc _),
    "nq_video_clusters_inc" -> (nqVideoClustersInc _),
    "nq_media_clusters_joint" -> (nqMediaClustersJoint _),
    "nq_cluster_merge" -> (nqClusterMerge _))

  val oracle: Map[String, String] = Map(
    // the incremental merge path re-proves the one-shot q63-shape
    // recursive-CTE clustering verbatim
    "nq_media_clusters_inc" -> ImageDedup.nqImageDedupClustersSql,
    "nq_media_clusters_delete" -> nqMediaClustersDeleteSql,
    // compaction is read-invisible BY CONTRACT: the compacted store
    // must answer the identical SQL the uncompacted one does
    "nq_media_clusters_compact" -> nqMediaClustersDeleteSql,
    // the text member through the SAME store re-proves the one-shot
    // banded clustering oracle verbatim (full hash-family replica)
    "nq_text_clusters_inc" ->
      graft.text.DedupClusters.oracle("nq_dedup_clusters"),
    // the strict tier: reach rebuilt over surviving-endpoint pairs
    // only (evidence erased), vs the delete entry's historical reach
    "nq_media_clusters_strict" -> nqMediaClustersStrictSql,
    // the affected-only recompute must be indistinguishable from the
    // full strict recluster: the SAME SQL, verbatim
    "nq_media_clusters_affected" -> nqMediaClustersStrictSql,
    // the audio/video members re-prove their one-shot pair CTEs
    // verbatim, composed with the q63-shape recursive reach
    "nq_audio_clusters_inc" -> nqAudioClustersIncSql,
    "nq_video_clusters_inc" -> nqVideoClustersIncSql,
    // ONE batch, three modalities, one judge→merge→ingest pass — the
    // oracle is the three one-shot clustering SQLs' UNION (shared
    // pair CTEs verbatim), so cross-modality contamination or a lost
    // modality hash-fails
    "nq_media_clusters_joint" -> nqMediaClustersJointSql,
    // the benched merge path re-proves the zero-dump XXH64-replica
    // corpus' one-shot connected components
    "nq_cluster_merge" -> nqClusterMergeSql)
}
