package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs with the column layout of the engine's
  * test tables (a TPC-H-like star schema, an `events` stream, a text
  * corpus and an embedding corpus). Every value is a hash of
  * (seed, salt, row id), so a seed gives the same rows regardless of
  * partitioning or thread timing. `scale` 1.0 is 60 000 lineitems. */
object Data {
  val Vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan",
    "slow", "fast", "table", "value", "part", "hash", "merge", "batch",
    "spark", "data", "column", "join", "small", "line", "customer", "query",
    "big", "order", "group", "sort", "filter", "window", "stream", "index",
    "plan", "shard", "vector", "token", "model", "event", "sink", "source",
    "delta", "epoch")
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "error", "signup")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Dims = 64

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)
  private def ri(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))
  private def u(seed: Long, salt: Int, cs: Column*): Column =
    ri(seed, salt, 1000000L, cs: _*).cast("double") / 1e6
  private def pick(xs: Seq[String], c: Column): Column =
    element_at(array(xs.map(lit): _*), (c + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)

  def counts(scale: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> math.max(50L, (1500 * scale).toLong),
    "supplier" -> math.max(10L, (100 * scale).toLong),
    "part" -> math.max(50L, (2000 * scale).toLong),
    "orders" -> math.max(100L, (15000 * scale).toLong),
    "lineitem" -> math.max(400L, (60000 * scale).toLong),
    "events" -> math.max(200L, (10000 * scale).toLong),
    "documents" -> math.max(60L, (500 * scale).toLong),
    "embeddings" -> math.max(60L, (500 * scale).toLong))

  /** One table. `events` rows `first until first + n` cover consecutive
    * event-time ranges, so later batches are later in event time. `order`
    * = (a, b) emits the rows in the order of the permutation
    * i -> (a * i + b) mod n (a must be coprime with n). */
  def table(spark: SparkSession, name: String, seed: Long, scale: Double,
            first: Long = 0L, n: Long = -1L,
            order: Option[(Long, Long)] = None): DataFrame = {
    val c = counts(scale)
    val rows = if (n >= 0) n else c(name)
    val id = col("id")
    val base = order match {
      case None => spark.range(first, first + rows, 1, 4)
      case Some((a, b)) => spark.range(0, rows, 1, 4)
          .select((lit(first) + pmod(col("id") * a + b, lit(rows))).as("id"))
    }
    name match {
      case "region" => base.select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name"))
      case "nation" => base.select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5)).cast("int").as("n_regionkey"))
      case "customer" => base.select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ri(seed, 1, 25, id).cast("int").as("c_nationkey"),
        money(u(seed, 2, id) * 10000 - 1000).as("c_acctbal"),
        pick(Segments, ri(seed, 3, Segments.size, id)).as("c_mktsegment"))
      case "supplier" => base.select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ri(seed, 4, 25, id).cast("int").as("s_nationkey"),
        money(u(seed, 5, id) * 10000 - 1000).as("s_acctbal"))
      case "part" => base.select(id.as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "large", "red", "blue", "green"), ri(seed, 6, 5, id)),
          pick(Seq("ring", "widget", "bolt", "gear", "panel"), ri(seed, 7, 5, id))).as("p_name"),
        concat(lit("Brand#"), (ri(seed, 8, 25, id) + 1).cast("string")).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "PROMO", "LARGE"), ri(seed, 9, 4, id)).as("p_type"),
        (ri(seed, 10, 50, id) + 1).cast("int").as("p_size"),
        money(lit(900.0) + pmod(id, lit(1000)) / 10.0).as("p_retailprice"))
      case "orders" => base.select(id.as("o_orderkey"),
        ri(seed, 11, c("customer"), id).as("o_custkey"),
        pick(Seq("F", "O", "P"), ri(seed, 12, 3, id)).as("o_orderstatus"),
        money(u(seed, 13, id) * 450000 + 1000).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + ri(seed, 14, 2500, id) * 86400)
          .cast("timestamp_ntz").as("o_orderdate"),
        pick(Priorities, ri(seed, 15, 5, id)).as("o_orderpriority"))
      case "lineitem" => base.select(ri(seed, 16, c("orders"), id).as("l_orderkey"),
        ri(seed, 17, c("part"), id).as("l_partkey"),
        ri(seed, 18, c("supplier"), id).as("l_suppkey"),
        (ri(seed, 19, 7, id) + 1).cast("int").as("l_linenumber"),
        (ri(seed, 20, 50, id) + 1).cast("double").as("l_quantity"),
        money(u(seed, 21, id) * 90000 + 900).as("l_extendedprice"),
        (ri(seed, 22, 11, id) / 100.0).as("l_discount"),
        (ri(seed, 23, 9, id) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), ri(seed, 24, 3, id)).as("l_returnflag"),
        pick(Seq("F", "O"), ri(seed, 25, 2, id)).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + ri(seed, 26, 2500, id) * 86400)
          .cast("timestamp_ntz").as("l_shipdate"))
      case "events" => base.select(id.as("event_id"),
        // whole seconds, 12 s apart on average: ingest batches are
        // consecutive event-time ranges
        timestamp_seconds(lit(1704067200L) + id * 12 + ri(seed, 27, 12, id)).as("ts"),
        ri(seed, 28, 97, id).as("user_id"),
        pick(EventTypes, ri(seed, 29, EventTypes.size, id)).as("event_type"),
        money(u(seed, 30, id) * 100).as("value"),
        format_string("{\"k\": %d}", ri(seed, 31, 100, id)).as("props"))
      case "documents" =>
        // one doc in eight is a near copy of one of the five before it
        // (one word replaced), so near-dup operators have work to find
        val src = when(id >= 8 && ri(seed, 32, 8, id) === 0,
          id - 1 - ri(seed, 33, 5, id)).otherwise(id)
        val len = lit(12) + ri(seed, 34, 60, src)
        val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
        val words = expr(s"transform(sequence(0, __len - 1), i -> " +
          s"CASE WHEN __src <> id AND i = pmod(xxhash64($seed, 35, id), __len) " +
          s"THEN 'variant' ELSE element_at($vocab, CAST(floor(${Vocab.size} * " +
          s"pow(pmod(xxhash64($seed, 36, __src, i), 1000000) / 1e6, 2)) AS INT) + 1) END)")
        base.withColumn("__src", src).withColumn("__len", len)
          .select(id.as("doc_id"), concat_ws(" ", words).as("text"),
            pick(Seq("en", "en", "en", "de", "fr"), ri(seed, 37, 5, col("__src"))).as("lang"),
            concat(lit("src"), ri(seed, 38, 10, id).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val vec = expr(s"transform(sequence(0, ${Dims - 1}), j -> CAST(" +
          s"(pmod(xxhash64($seed, 40, __c, j), 2000) / 1000.0 - 1.0) * 0.3 + " +
          s"(pmod(xxhash64($seed, 41, id, j), 1000) / 1000.0 - 0.5) * 0.25 AS FLOAT))")
        base.withColumn("__c", ri(seed, 39, 8, id))
          .select(id.as("vec_id"), vec.as("embedding"),
            pmod(col("__c"), lit(4)).cast("int").as("label"))
    }
  }

  /** Write the named tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double,
            names: Seq[String]): Unit =
    names.foreach(n => table(spark, n, seed, scale)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
}
