package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The lineage fence of the stores whose own batch partition is the
  * replay fence, driven through each public sink the way a deployment
  * runs it: a MemoryStream into the sink under a checkpointLocation.
  * Restarting on the original checkpoint continues the store exactly
  * as one uninterrupted query would; a fresh checkpoint over the same
  * store fails on its first trigger, names the bound lineage, and leaves
  * the store reading unchanged.
  */
class LineageFenceSpec extends SparkSpec {
  import spark.implicits._

  private type Ev = (Long, Long, String, Double)
  private val evCols = Seq("event_id", "user_id", "event_type", "value")
  private val group = Seq("event_type")
  private val k = 16

  /** One fenced store: its public sink over the event stream, and a
    * read of the store. */
  private case class Fenced(name: String,
      sink: (DataFrame, String) => DataStreamWriter[Row],
      read: (SparkSession, String) => DataFrame)

  private val stores = Seq(
    Fenced("agg",
      graft.rel.AggStore.aggIngestStream(_, group, "value", _),
      graft.rel.AggStore.aggFromStore(_, _, group)),
    Fenced("hll",
      graft.rel.CardinalityStore.cardinalityStream(_, group, "user_id", _),
      graft.rel.CardinalityStore.estimateFromStore(_, _, group)),
    Fenced("kmv",
      (ev, p) => graft.rel.KmvStore.kmvStream(
        ev.select(col("event_type"), xxhash64(col("user_id")).as("h")),
        group, "h", p, k),
      graft.rel.KmvStore.sketchesFromStore(_, _, group, k)),
    Fenced("kll",
      graft.rel.QuantileStore.kllIngestStream(_, group, "value", _, k),
      graft.rel.QuantileStore.sketchesFromStore(_, _, group, k)),
    Fenced("cms",
      graft.rel.Cms.cmsIngestStream(_, "user_id", _),
      (s, p) => graft.rel.Cms.estimateFromStore(s, p,
        s.range(1, 6).select(col("id").as("user_id")), "user_id")),
    Fenced("lm",
      (ev, p) => graft.text.LmStore.lmIngestStream(
        ev.select(col("event_id").as("doc_id"),
          col("event_type").as("text")), p),
      graft.text.LmStore.countsFromStore(_, _)),
    Fenced("graph",
      (ev, p) => graft.rel.GraphStore.edgeIngestStream(
        ev.select(col("user_id").as("src"), col("event_id").as("dst")), p),
      graft.rel.GraphStore.edgesFromStore(_, _)),
    Fenced("media",
      (ev, p) => graft.sources.MediaDedupStore.fingerprintIngestStream(
        ev.select(col("event_id").as("media_id"),
          lit("image").as("modality"), col("user_id").as("h")), p),
      graft.sources.MediaDedupStore.fingerprintsFromStore(_, _)))

  private val kinds = Seq("the cat sat on the mat", "a dog ran home",
    "the dog sat")
  private def events(ids: Range): Seq[Ev] =
    ids.map(i => (i.toLong, (i % 5 + 1).toLong, kinds(i % kinds.size),
      i * 1.5))
  private val b1 = events(1 to 6)
  private val b2 = events(7 to 10)
  private val b3 = events(11 to 12)

  private def canonical(df: DataFrame): Seq[String] =
    df.toJSON.collect().sorted.toSeq

  /** The cause chain of `t`, outermost first. */
  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  stores.foreach { f =>
    test(s"${f.name} sink: a restart continues, a fresh checkpoint is " +
        "fenced") {
      val dir = java.nio.file.Files.createTempDirectory("lineagefence")
      try {
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          spark.sqlContext
        val store = s"$dir/store"
        /** Start `f`'s sink over `in` on checkpoint `ckpt`, run one
          * trigger per batch, stop; the query's stable id. */
        def run(in: MemoryStream[Ev], path: String, ckpt: String,
            batches: Seq[Ev]*): String = {
          val q = f.sink(in.toDF().toDF(evCols: _*), path)
            .option("checkpointLocation", s"$dir/$ckpt").start()
          try {
            batches.foreach { b => in.addData(b); q.processAllAvailable() }
            q.id.toString
          } finally q.stop()
        }
        // the reference: both batches through one uninterrupted query
        run(MemoryStream[Ev], s"$dir/reference", "R", b1, b2)
        val a = MemoryStream[Ev]
        val lineageA = run(a, store, "A", b1)
        assert(run(a, store, "A", b2) == lineageA)
        val before = canonical(f.read(spark, store))
        assert(before.nonEmpty)
        assert(before == canonical(f.read(spark, s"$dir/reference")),
          "a restart on checkpoint A must continue the store exactly")

        val b = MemoryStream[Ev]
        val err = intercept[Exception](run(b, store, "B", b3))
        val fence = causes(err).collectFirst {
          case e: IllegalStateException if e.getMessage.contains(lineageA) =>
            e.getMessage
        }
        assert(fence.exists(_.contains("lineage")),
          s"expected a lineage fence naming $lineageA, got $err")
        assert(canonical(f.read(spark, store)) == before,
          "a fenced trigger must leave the store reading unchanged")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }
}
