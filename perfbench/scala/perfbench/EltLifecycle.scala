package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Created, Engine, ModelConfig, ProjectRunner, Unchanged}
import graft.schema.{StreamSchema, Watermark}
import graft.streaming.StreamingEngine

/** The dbt workflow over a generated project: two CSV seeds, five batch
  * models of DAG depth 4 over `lineitem`/`orders`/`events` (refs, joins to
  * the seeds, group-bys, primary-key change streams, a window function),
  * two streaming models (an append projection, and a watermarked tumbling
  * window count kept as a primary-key change stream) and a schema.yml of
  * generic tests. The seed picks the model constants and the seed-table contents.
  *
  * Lifecycle (once): build from cold, an unchanged run, a content-
  * preserving edit of one upstream model rebuilt with `<model>+`, the
  * tests and a fixed set of previews, then the first ingest round, in
  * which the streaming models also catch up on the events present at
  * build time. Steady state: closed-loop ingest rounds — append a
  * seed-permuted events batch, refresh the streaming models, read
  * their sinks back through `readStream`; a round's time is the batch's
  * freshness.
  *
  * Checks: the build creates every model, the unchanged run leaves every
  * model Unchanged, the rebuild updates the edited model, every test
  * passes, each round's sinks reflect the batch, every batch model equals
  * its SQL run directly over the generated inputs and every streaming sink
  * equals the batch recomputation over all ingested events
  * (order-insensitive digests). */
final class EltLifecycle(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val scale = 0.25
  private val BatchRows = 400L
  private val template = s"${ctx.work}/template"
  private val rng = new scala.util.Random(ctx.seed)
  private val minQty = 5 + rng.nextInt(30)
  private val minValue = rng.nextInt(20)
  private val sources = Seq("lineitem", "orders", "events")
  private val streamingModels = Seq("s_events_proj", "s_events_window")
  private var engine: Engine = _
  private var streaming: StreamingEngine = _
  private var project: String = _
  private var rounds = 0

  // ---- the generated project ------------------------------------------

  private val inactive = "pipeline={'execution': {'active': false}}"
  private val models: Seq[(String, String)] = Seq(
    "stg_lineitem" ->
      s"""SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty,
         |  CAST(l_extendedprice AS DECIMAL(18,2)) AS price
         |FROM lineitem WHERE l_quantity >= $minQty""".stripMargin,
    "order_lines" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, l.qty, l.price
        |FROM orders o
        |JOIN {{ ref('stg_lineitem') }} l ON o.o_orderkey = l.l_orderkey""".stripMargin,
    "segment_revenue" ->
      """{{ config(unique_key='segment') }}
        |SELECT s.segment, max(CAST(s.seg_order AS INT)) AS seg_order,
        |  count(*) AS n, sum(o.price) AS revenue
        |FROM {{ ref('order_lines') }} o
        |JOIN {{ ref('segments') }} s ON o.o_orderpriority = s.o_orderpriority
        |GROUP BY s.segment""".stripMargin,
    "segment_rank" ->
      """SELECT segment, revenue,
        |  rank() OVER (ORDER BY revenue DESC, segment) AS rnk
        |FROM {{ ref('segment_revenue') }}""".stripMargin,
    "events_by_category" ->
      s"""{{ config(unique_key='category') }}
         |SELECT t.category, count(*) AS n, sum(CAST(e.value AS DECIMAL(18,2))) AS total
         |FROM events e JOIN {{ ref('event_types') }} t ON e.event_type = t.event_type
         |WHERE e.value >= $minValue
         |GROUP BY t.category""".stripMargin,
    "s_events_proj" ->
      s"""{{ config($inactive) }}
         |SELECT event_id, user_id, event_type, CAST(value AS DECIMAL(18,2)) AS value
         |FROM events""".stripMargin,
    "s_events_window" ->
      s"""{{ config(unique_key=['window_start', 'event_type'], $inactive) }}
         |SELECT w.start AS window_start, event_type, n FROM (
         |  SELECT window(ts, '10 minutes') AS w, event_type, count(*) AS n
         |  FROM events GROUP BY window(ts, '10 minutes'), event_type)""".stripMargin)

  private val batchModels: Seq[String] =
    models.map(_._1).filterNot(streamingModels.contains)

  private val edited = "stg_lineitem"

  private val schemaYml: String = {
    def model(name: String, cols: (String, Seq[String])*): String =
      s"  - name: $name\n    columns:\n" + cols.map { case (c, ts) =>
        s"      - name: $c\n        tests: [${ts.mkString(", ")}]\n" }.mkString
    "models:\n" +
      model("segment_revenue", "segment" -> Seq("not_null", "unique"))
  }

  /** Singular tests: accepted values, which the schema.yml layer does not
    * parse, as dbt's equivalent failing-rows query. */
  private val singularTests = Seq(
    "accepted_values_events_by_category_category" ->
      ("SELECT category FROM events_by_category " +
        "WHERE category NOT IN ('engagement', 'commerce', 'ops')"))

  private val previews: Seq[String] = Seq(
    "SELECT * FROM segment_rank ORDER BY rnk LIMIT 5",
    "SELECT o_orderpriority, sum(price) AS revenue FROM order_lines " +
      "GROUP BY o_orderpriority ORDER BY revenue DESC LIMIT 3")

  private def writeProject(root: String): Unit = {
    val seeds = Paths.get(root, "seeds")
    val dir = Paths.get(root, "models")
    Files.createDirectories(seeds)
    Files.createDirectories(dir)
    // order priorities to seed-chosen segments
    val segs = Seq("retail", "wholesale", "public")
    val pick = new scala.util.Random(ctx.seed + 1)
    Files.writeString(seeds.resolve("segments.csv"),
      "o_orderpriority,segment,seg_order\n" + Data.Priorities.map { p =>
        val s = pick.nextInt(segs.size)
        s"$p,${segs(s)},${s + 1}" }.mkString("\n") + "\n")
    val cats = Seq("engagement", "engagement", "commerce", "ops", "engagement")
    Files.writeString(seeds.resolve("event_types.csv"),
      "event_type,category\n" + Data.EventTypes.zip(cats)
        .map { case (t, c) => s"$t,$c" }.mkString("\n") + "\n")
    models.foreach { case (n, sql) => Files.writeString(dir.resolve(s"$n.sql"), sql) }
    Files.writeString(dir.resolve("schema.yml"), schemaYml)
  }

  // ---- inputs ----------------------------------------------------------

  private def nEvents0 = Data.counts(scale)("events")

  private def input(n: String): DataFrame = Data.table(spark, n, ctx.seed, scale)

  /** Ingest batch `r`: the next `BatchRows` events in event time, in a
    * seed-permuted row order (an affine permutation of the row index, so
    * generating it needs no shuffle). */
  private def batch(r: Int): DataFrame = {
    val g = new scala.util.Random(ctx.seed * 7919 + r)
    val step = Iterator.continually(g.nextInt(BatchRows.toInt) | 1)
      .find(a => BigInt(a).gcd(BigInt(BatchRows)) == 1).get
    val first = nEvents0 + r * BatchRows
    Data.table(spark, "events", ctx.seed, scale, first = first, n = BatchRows,
      order = Some((step.toLong, (ctx.seed * 31 + r) % BatchRows)))
  }

  /** An engine root with the three sources loaded, which every set-up
    * copies. */
  def prepare(): Unit = {
    val e = new Engine(spark, template)
    sources.foreach { n =>
      val df = input(n)
      val wm = if (n == "events") Seq(Watermark("ts", "ts - INTERVAL '1' HOUR")) else Nil
      e.createStream(n, StreamSchema.fromStruct(df.schema, watermarks = wm))
      e.appendRows(n, df)
    }
    e.close()
  }

  def setUp(i: Int): Unit = {
    if (engine != null) engine.close()
    val root = s"${ctx.work}/root-$i"
    ctx.copyTree(template, root)
    engine = new Engine(spark, root)
    streaming = new StreamingEngine(engine)
    project = ctx.dir(s"project-$i")
    writeProject(project)
  }

  // ---- timed operations ------------------------------------------------

  private def refreshAll(): Unit = streamingModels.foreach(m =>
    rec.span("streaming", "refreshAvailable")(streaming.refreshAvailable(m)))

  def lifecycle(): Unit = {
    val e = engine
    val runner = new ProjectRunner(e)
    val modelsDir = s"$project/models"

    rec.op("elt.project_build")(rec.span("engine.project", "runProject")(
      runner.runProject(project))).foreach { r =>
      val built = r.filter { case (n, _) => models.exists(_._1 == n) }
      rec.check("elt.build_creates_all",
        built.size == models.size && built.values.forall(_ == Created), r.toString)
      rec.value("engine.project.models_created", r.values.count(_ == Created).toDouble)
    }
    rec.probe("engine.project", "loadModels")(runner.loadModels(modelsDir))
    controlProbes(e)

    rec.op("elt.project_noop")(rec.span("engine.project", "run")(runner.run(modelsDir)))
      .foreach { r =>
        rec.check("elt.noop_all_unchanged",
          r.size == models.size && r.values.forall(_ == Unchanged),
          r.filter(_._2 != Unchanged).toString)
        rec.value("engine.project.models_unchanged", r.values.count(_ == Unchanged).toDouble)
      }

    // content-preserving edit: the spec changes, the rows do not (the
    // engine keeps a descendant whose own SQL is unchanged as it is)
    val f = Paths.get(modelsDir, s"$edited.sql")
    Files.writeString(f, Files.readString(f) + " AND l_quantity < 1000000")
    rec.op("elt.project_rebuild")(rec.span("engine.project", "run")(
      runner.run(modelsDir, select = Seq(s"$edited+")))).foreach { r =>
      rec.check("elt.rebuild_updates_edited",
        r.get(edited).exists(_ != Unchanged) && r.size > 1, r.toString)
    }

    val tests = runner.parseSchemaTests(schemaYml).map(t =>
      t.name -> t.copy(model = e.catalog.qualify(t.model)).sql) ++ singularTests
    tests.foreach { case (name, sql) =>
      rec.op("elt.test")(rec.span("engine.preview", "runTestJudged")(
        e.runTestJudged(name, sql))).foreach(r =>
        rec.check(s"elt.test.$name", r.failures == 0, r.toString))
    }
    previews.foreach { sql =>
      rec.op("elt.preview")(rec.span("engine.preview", "preview")(e.preview(sql)))
        .foreach(rows => rec.check("elt.preview_nonempty", rows.nonEmpty, sql))
    }
    // first round: the streaming models also catch up on the events
    // present at build time
    ingest("elt.stream_catchup", 0)
  }

  def steady(i: Int): Unit = ingest("elt.ingest_round", i + 1)

  def minSteady: Int = 3

  private def ingest(kind: String, r: Int): Unit = {
    val e = engine
    val df = batch(r)
    val expect = nEvents0 + (r + 1) * BatchRows
    rec.op(kind) {
      rec.span("engine.store", "appendRows")(e.appendRows("events", df))
      refreshAll()
      rec.span("engine.store", "readStream") {
        val proj = e.readStream("s_events_proj").count()
        val win = e.readStream("s_events_window").agg(sum("n")).head().getLong(0)
        (proj, win)
      }
    }.foreach { case (p, w) =>
      rec.check("elt.sinks_reflect_batch", p == expect && w == expect,
        s"round $r: expected $expect, got $p/$w")
    }
    if (r > 0) rec.value("elt.ingest_rows", BatchRows.toDouble)
    rounds = r + 1
    if (r == 1) rec.probe("engine.store", "describeStream") {
      val st = e.describeStream("events")
      rec.value("engine.store.files", st.files.toDouble)
      rec.value("engine.store.bytes", st.bytes.toDouble)
    }
  }

  /** Control-plane sub-steps, each called on its own at the catalog state
    * the build left (traced runs only). */
  private def controlProbes(e: Engine): Unit = if (rec.traced) {
    val (name, sql) = models.find(_._1 == "segment_revenue").get
    val m = new ProjectRunner(e).parseModel(name, sql)
    rec.probe("engine.control", "registerViews")(e.registerViews())
    rec.probe("engine.control", "sourcesOf")(e.sourcesOf(m.sql))
    rec.probe("engine.control", "inferSchema")(e.inferSchema(m.sql))
    rec.probe("engine.control", "hasChanged")(e.hasChanged(name, m.sql, m.config))
    rec.probe("engine.control", "catalogList") {
      rec.value("engine.control.catalog_streams", e.catalog.list().size.toDouble)
    }
  }

  // ---- output checks ---------------------------------------------------

  def finish(): Unit = {
    val e = engine
    // reference: every model's SQL over plain views of the generated inputs
    sources.foreach(n => input(n).createOrReplaceTempView(n))
    Seq("segments", "event_types").foreach(n =>
      spark.read.option("header", "true").csv(s"$project/seeds/$n.csv").createOrReplaceTempView(n))
    val parsed = new ProjectRunner(e).loadModels(s"$project/models").map(m => m.name -> m).toMap
    batchModels.foreach(m => spark.sql(parsed(m).sql).createOrReplaceTempView(m))
    val batchRef = batchModels.map(m => m -> spark.table(m))
    // the streaming sinks: the batch recomputation over every ingested event
    (0 until rounds).map(batch).foldLeft(input("events"))(_ unionByName _)
      .createOrReplaceTempView("events")
    val streamRef = streamingModels.map(m => m -> spark.sql(parsed(m).sql))
    val all = batchRef ++ streamRef
    val got = scala.util.Try(Digest.many(
      all.map { case (m, df) => s"want:$m" -> df } ++
        all.map { case (m, _) => s"got:$m" -> e.readStream(m) }))
    all.foreach { case (m, _) =>
      val d = got.toOption
      rec.check(s"elt.output_equals_reference.$m",
        d.exists(x => x(s"got:$m") == x(s"want:$m")), s"$got")
    }
    e.close()
  }
}
