package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic corpus in the shape of the TPC-H-ish star schema the
  * graft loaders expect (`graft.sources.Tables`): one parquet directory
  * per table under `dir`. Every value is a hash of (seed, column salt,
  * row id), so the same seed gives byte-identical rows whatever the
  * partitioning, and nothing reads outside the benchmark's own files.
  *
  * Timestamps are written as TIMESTAMP_NTZ, as in graft's sf test corpora:
  * `l_shipdate` and `o_orderdate` therefore load as `timestamp_ntz`, and
  * `events.ts` goes through the loader's NTZ → TIMESTAMP branch.
  */
object Corpus {
  /** Row counts; `sf01` is the sf0.1 shape of graft's test corpora. */
  final case class Sizes(lineitem: Long, orders: Long, parts: Long, events: Long,
      documents: Long, embeddings: Long)
  val sf01 = Sizes(lineitem = 600000, orders = 150000, parts = 20000,
    events = 100000, documents = 5000, embeddings = 2000)

  /** Uniform long in [0, n) from (seed, salt, key). */
  def u(seed: Long, salt: Int, key: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(n))

  private def pick(seed: Long, salt: Int, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(seed, salt, key, values.size) + 1).cast("int"))

  private def ntzDay(base: String, days: Column): Column =
    date_add(lit(java.sql.Date.valueOf(base)), days.cast("int")).cast("timestamp_ntz")

  def lineitem(spark: SparkSession, seed: Long, s: Sizes, from: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(from, from + n).select(
      u(seed, 1, id, s.orders).as("l_orderkey"),
      u(seed, 2, id, s.parts).as("l_partkey"),
      u(seed, 3, id, 1000).as("l_suppkey"),
      (u(seed, 4, id, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 5, id, 50) + 1).cast("double").as("l_quantity"),
      ((u(seed, 6, id, 10410000) + 90068) / 100.0).as("l_extendedprice"),
      (u(seed, 7, id, 11) / 100.0).as("l_discount"),
      (u(seed, 8, id, 9) / 100.0).as("l_tax"),
      pick(seed, 9, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 10, id, Seq("F", "O")).as("l_linestatus"),
      ntzDay("1995-01-02", u(seed, 11, id, 2498)).as("l_shipdate"))
  }

  /** Orders with keys [from, from + n); `salt` varies the non-key columns
    * between batches that reuse keys (updates).
    */
  def orders(spark: SparkSession, seed: Long, keys: DataFrame, salt: Int = 0): DataFrame = {
    val k = col("id")
    keys.select(
      k.as("o_orderkey"),
      u(seed, 20 + salt, k, 15000).as("o_custkey"),
      pick(seed, 21 + salt, k, Seq("F", "O", "P")).as("o_orderstatus"),
      ((u(seed, 22 + salt, k, 49899127) + 100191) / 100.0).as("o_totalprice"),
      ntzDay("1995-01-01", u(seed, 23 + salt, k, 2404)).as("o_orderdate"),
      pick(seed, 24 + salt, k,
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
  }

  def part(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val id = col("id")
    spark.range(0, s.parts).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(seed, 30, id, Seq("large", "hot", "blue", "red", "small", "cold", "green", "tiny")),
        pick(seed, 31, id, Seq("ring", "bolt", "nut", "gear", "pipe", "cog", "pin", "rod"))).as("p_name"),
      concat(lit("Brand#"), (u(seed, 32, id, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 33, id, Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO")).as("p_type"),
      (u(seed, 34, id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice"))
  }

  /** Events spread over January 2024 in event_id order, with jitter. */
  def events(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val id = col("id")
    val monthMicros = 30L * 86400L * 1000000L
    val step = monthMicros / s.events
    val micros = lit(1704067200000000L) + id * step + u(seed, 40, id, step)
    spark.range(0, s.events).select(
      id.as("event_id"),
      timestamp_micros(micros).cast("timestamp_ntz").as("ts"),
      u(seed, 41, id, 1500).as("user_id"),
      pick(seed, 42, id, Seq("view", "click", "signup", "purchase", "error")).as("event_type"),
      (u(seed, 43, id, 56021) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, 44, id, 100).cast("string"), lit("}")).as("props"))
  }

  /** The 30 words of graft's sf0.1 `documents` vocabulary; a 31st, "dup",
    * marks near-duplicates only.
    */
  private val vocab = Seq("spark", "table", "stream", "query", "scan", "sort", "hash",
    "group", "join", "filter", "window", "merge", "value", "row", "column", "data",
    "batch", "order", "part", "line", "key", "vector", "agg", "fast", "slow", "big",
    "small", "customer", "the", "a")

  /** Documents in the shape measured on graft's sf0.1 `documents` table
    * (5,000 rows): words drawn uniformly from `vocab`, 10–100 words per
    * document (uniform); 5 % near-duplicates, each the whole text of
    * another random document followed by " dup"; 0.16 % exact copies of
    * another random document; `lang` 40 % en and 15 % each of zh, es, fr
    * and de; `source` cycling over src0–src19 by `doc_id`; `n_chars` the
    * text length.
    */
  def documents(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val id = col("id")
    val words = array(vocab.map(lit): _*)
    def text(src: Column): Column = array_join(transform(sequence(lit(1L), u(seed, 50, src, 91) + 10), i =>
      element_at(words, (pmod(xxhash64(lit(seed), lit(51), src, i), lit(vocab.size.toLong)) + 1)
        .cast("int"))), " ")
    val roll = u(seed, 54, id, 10000)
    val other = u(seed, 55, id, s.documents)
    val body = when(roll < 500, concat(text(other), lit(" dup")))
      .when(roll < 516, text(other))
      .otherwise(text(id))
    val langs = Seq.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Seq.fill(3)(_))
    spark.range(0, s.documents).select(
      id.as("doc_id"),
      body.as("text"),
      pick(seed, 52, id, langs).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors in the shape measured on graft's sf0.1 `embeddings`
    * table (2,000 rows): 64 dimensions, each component an independent
    * standard normal before normalisation (there: component sd 1/8,
    * kurtosis 3.0, nearest-neighbour cosine ~0.4, no clustering by label),
    * and a label uniform over [0, 10).
    */
  def embeddings(spark: SparkSession, seed: Long, s: Sizes): DataFrame = {
    val id = col("id")
    // Box-Muller over two hashed uniforms in (0, 1]
    def unif(salt: Int, j: Column): Column =
      (pmod(xxhash64(lit(seed), lit(salt), id, j), lit(1L << 31)) + 1) / (1L << 31).toDouble
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sqrt(log(unif(60, j)) * -2.0) * cos(unif(62, j) * (2 * math.Pi)))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    spark.range(0, s.embeddings).select(
      id.as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      u(seed, 61, id, 10).cast("int").as("label"))
  }

  /** Makes sure `dir` holds each of `tables`, and lineitem, which the box
    * calibration probe scans, generated from corpus seed `seed` at sizes
    * `s`, and returns the ones it had to generate. A table already there
    * is reused: the caller keys `dir` by this generator's source, so the
    * files are the same whichever run wrote them. Each table is written
    * to a temporary directory and renamed into place, so an interrupted
    * run leaves no partial table behind.
    */
  def ensure(spark: SparkSession, dir: String, seed: Long, s: Sizes, tables: Set[String]): Seq[String] =
    (tables + "lineitem").toSeq.sorted.filterNot(t => new java.io.File(s"$dir/$t.parquet").isDirectory)
      .map { t =>
        val df = t match {
          case "lineitem" => lineitem(spark, seed, s, 0, s.lineitem)
          case "orders" => orders(spark, seed, spark.range(0, s.orders).toDF())
          case "part" => part(spark, seed, s)
          case "events" => events(spark, seed, s)
          case "documents" => documents(spark, seed, s)
          case "embeddings" => embeddings(spark, seed, s)
        }
        val tmp = s"$dir/.$t.tmp"
        df.write.mode("overwrite").parquet(tmp)
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(s"$dir/$t.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        t
      }
}
