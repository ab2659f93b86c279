package perfbench

import graft.SparkEntry

/** Operator gates from `SparkEntry.queries`, each timed as one action over
  * the gate's result — its order-insensitive digest, which is also the
  * output check against `expected/gates.json`. The gate inputs are fixed
  * (data seed 42), so the expected digests are committed. */
final class Gates(ctx: Ctx, names: Seq[String]) {
  private val spark = ctx.spark
  private val dir = ctx.dir("gate-data")

  /** The gate inputs: what the curation gate reads, every table otherwise. */
  def prepare(): Unit = Data.write(spark, dir, Gates.DataSeed, Gates.Scale,
    if (names == Gates.Curation) Gates.CurationTables else Gates.Tables)

  /** Run every gate once, in the seed's order, cache cleared before each. */
  def run(): Unit = ctx.shuffle(names, 17).foreach { g =>
    spark.catalog.clearCache()
    ctx.rec.op(s"gate.$g")(ctx.rec.span("operators", g)(
      Digest.of(SparkEntry.queries(g)(spark, dir)))).foreach(ctx.rec.output(g, _))
  }
}

object Gates {
  val DataSeed = 42L
  val Scale = 0.2
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  /** The operator gate curation_store times: Kneser-Ney per-document
    * perplexity, the vocabulary operator the heaviest curation pipelines
    * build on. One gate, because a run has about a minute. */
  val Curation: Seq[String] = Seq("kneser_ney_logppl")
  val CurationTables: Seq[String] = Seq("documents")
}

/** Gates only (not listed in BENCHMARK.json): `run.py --workload operator_gates
  * --gates a,b,c` records the listed gates' layer split, e.g. to compare
  * the Spark job and stage counts of two versions of the operators. */
final class OperatorGates(ctx: Ctx, names: Seq[String]) extends Workload {
  private val gates = new Gates(ctx, names)
  def prepare(): Unit = gates.prepare()
  def setUp(i: Int): Unit = ctx.spark.catalog.clearCache()
  def lifecycle(): Unit = gates.run()
  def steady(i: Int): Unit = gates.run()
  def minSteady: Int = 1
  def finish(): Unit = ()
}
