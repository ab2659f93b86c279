package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructType}

import graft.engine.Engine
import graft.schema.StreamSchema

/** Writes beside reads and deletes on the persisted sibling indexes, plus
  * one curation operator gate.
  *
  * Lifecycle (once): a document stream fed by near-dup-deduplicated ingest
  * and an embedding stream fed by ANN-indexed ingest, shard by shard (the
  * shards are a seed permutation of the corpus); after the last shard a
  * physical forget on both streams; after the first shard one top-10
  * search on an id already ingested; a final compaction; then the operator
  * gate of [[Gates.Curation]]. Steady state: closed-loop top-10
  * searches in pairs, one unfiltered and one filtered on a corpus predicate.
  *
  * Checks: some but not all offered documents are dropped as duplicates;
  * no search after a forget returns a forgotten id; recall@10 of the served
  * index at the benchmark's probe width, against brute-force cosine over
  * the engine's query sample (`Engine.annRecallMeasured`), meets the
  * recall target; every gate's digest matches the
  * committed one. */
final class CurationStore(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val Shards = 2
  private val TargetRecall = 0.9
  private val NProbe = 4
  private val nDocs = 300L
  private val nVecs = 200L
  private val gates = new Gates(ctx, Gates.Curation)
  private val rng = new scala.util.Random(ctx.seed)
  private var engine: Engine = _
  private var live = Vector.empty[Long]
  private var forgotten = Set.empty[Long]
  private var dropped = 0L
  private var offered = 0L

  def prepare(): Unit = gates.prepare()

  /** Shard `s` of a corpus: rows chosen by a seeded hash of the id. */
  private def shard(df: DataFrame, idCol: String, s: Int): DataFrame =
    df.filter(pmod(xxhash64(lit(ctx.seed), lit(99), col(idCol)), lit(Shards)) === s)

  def setUp(i: Int): Unit = {
    if (engine != null) engine.close()
    val e = new Engine(spark, ctx.dir(s"root-$i"))
    e.createStream("docs", StreamSchema.fromStruct(new StructType()
      .add("doc_id", "long", nullable = false).add("text", "string")
      .add("lang", "string").add("source", "string").add("n_chars", "long")))
    e.createStream("vecs", StreamSchema.fromStruct(new StructType()
      .add("vec_id", "long", nullable = false)
      .add("embedding", ArrayType(FloatType)).add("label", "int")))
    engine = e
  }

  private def search(kind: String, qid: Long, filtered: Boolean): Unit =
    rec.op(kind)(rec.span("engine.index", "annTopKIndexed")(
      engine.annTopKIndexed("vecs", "vec_id", "embedding", col("vec_id") === qid,
        k = 10, nProbe = NProbe,
        corpusPred = if (filtered) Some(col("label") === (qid % 4).toInt) else None)
        .collect())).foreach { rows =>
      rec.check("curation.no_forgotten_served",
        !rows.exists(r => forgotten(r.getLong(1))), s"query $qid")
    }

  def lifecycle(): Unit = {
    val e = engine
    val docs = Data.table(spark, "documents", ctx.seed, 1.0, n = nDocs)
    val vecs = Data.table(spark, "embeddings", ctx.seed, 1.0, n = nVecs)
    for (s <- 0 until Shards) {
      val docShard = shard(docs, "doc_id", s)
      val vecShard = shard(vecs, "vec_id", s)
      val nd = docShard.count()
      val nv = vecShard.count()
      rec.op("curation.dedup_ingest")(rec.span("engine.index", "appendRowsDeduped")(
        e.appendRowsDeduped("docs", docShard, "doc_id", "text"))).foreach(dropped += _)
      offered += nd
      rec.op("curation.ann_ingest")(rec.span("engine.index", "appendRowsAnnIndexed")(
        e.appendRowsAnnIndexed("vecs", vecShard, "vec_id", "embedding")))
      rec.value("curation.ingest_rows", (nd + nv).toDouble)
      live ++= vecShard.select("vec_id").collect().map(_.getLong(0)).sorted
      if (s == Shards - 1) {
        val victims = rng.shuffle(live).take(math.max(1, live.size / 20)).sorted
        rec.op("curation.forget") {
          rec.span("engine.index", "forgetRows")(
            e.forgetRows("docs", col("doc_id").isin(victims: _*)))
          rec.span("engine.index", "forgetRows")(
            e.forgetRows("vecs", col("vec_id").isin(victims: _*)))
        }
        forgotten ++= victims
        live = live.filterNot(forgotten)
      }
      // a read between the writes; the steady searches follow the forget
      if (s == 0)
        search("curation.query_unfiltered", live(rng.nextInt(live.size)), filtered = false)
    }
    rec.probe("engine.store", "describeStream") {
      val st = e.describeStream("vecs")
      rec.value("engine.store.files", st.files.toDouble)
      rec.value("engine.store.bytes", st.bytes.toDouble)
      rec.value("engine.index.sibling_files", e.catalog.list()
        .filter(_.name.contains("__")).map(d => e.describeStream(d.name).files).sum.toDouble)
    }
    rec.op("curation.compact") {
      rec.span("engine.store", "compactStorage")(e.compactStorage("docs"))
      rec.span("engine.store", "compactStorage")(e.compactStorage("vecs"))
    }
    gates.run()
  }

  /** One unfiltered and one filtered search, so every run times as many
    * of each. */
  def steady(i: Int): Unit = {
    search("curation.query_unfiltered", live(rng.nextInt(live.size)), filtered = false)
    search("curation.query_filtered", live(rng.nextInt(live.size)), filtered = true)
  }

  def minSteady: Int = 3

  def finish(): Unit = {
    val e = engine
    rec.value("engine.index.dedup_dropped", dropped.toDouble)
    rec.value("engine.index.dedup_dropped_ratio", dropped.toDouble / math.max(1L, offered))
    rec.check("curation.dedup_drops_some", dropped > 0 && dropped < offered,
      s"$dropped of $offered")
    // recall@10 of the served index against brute force over the
    // engine's query sample
    val recall = e.annRecallMeasured("vecs", "vec_id", "embedding", k = 10, nProbe = NProbe)
    rec.value("engine.index.recall_at_10", recall)
    rec.check("curation.recall_at_target", recall >= TargetRecall, s"recall $recall")
    e.close()
  }
}
