package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the star-schema tables the query registry reads
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`, one parquet file each). Shapes, types and value
  * domains follow the engine's testdata contract; row counts scale with
  * `sf` the same way (lineitem = 6M x sf). The same (sf, seed) writes the
  * same rows.
  */
object TestData {

  final case class Sizes(sf: Double) {
    private def n(base: Double, min: Int = 1): Int = math.max(min, math.round(base * sf).toInt)
    val customer: Int = n(150000)
    val supplier: Int = n(10000, 10)
    val part: Int = n(200000)
    val orders: Int = n(1500000)
    val lineitem: Int = n(6000000)
    val events: Int = n(1000000)
    val users: Int = n(15000, 10)
    val documents: Int = n(50000, 100)
    val embeddings: Int = math.max(500, n(20000))
  }

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdj = Seq("small", "large", "red", "blue", "old", "new", "hot", "cold")
  private val PartNoun = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
  private val PartTypes = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val Vocab = ("a the agg batch big column customer data fast filter group hash join " +
    "key line merge order part query row scan slow small sort spark stream table value " +
    "vector window").split(' ').toSeq
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: java.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def day(r: java.util.Random, from: LocalDate, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong).atStartOfDay()

  /** Rows and schema of one table; each table draws from its own stream
    * so adding rows to one table never shifts another.
    */
  def rows(name: String, sizes: Sizes, seed: Long): (StructType, Seq[Row]) = {
    val r = new java.util.Random(seed * 1000003L + Tables.indexOf(name))
    def schema(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    name match {
      case "region" =>
        (schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
          Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
      case "nation" =>
        (schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
          (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      case "customer" =>
        (schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
          "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
          (0 until sizes.customer).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
            money(r, -999.99, 9999.99), pick(r, Segments))))
      case "supplier" =>
        (schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
          "s_acctbal" -> DoubleType),
          (0 until sizes.supplier).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
            money(r, -999.99, 9999.99))))
      case "part" =>
        (schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
          "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
          (0 until sizes.part).map(i => Row(i.toLong, s"${pick(r, PartAdj)} ${pick(r, PartNoun)}",
            s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
            math.round(9000 + i % 1000) / 10.0)))
      case "orders" =>
        val from = LocalDate.of(1995, 1, 1)
        (schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
          "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
          "o_orderpriority" -> StringType),
          (0 until sizes.orders).map(i => Row(i.toLong, r.nextInt(sizes.customer).toLong,
            pick(r, Seq("F", "O", "P")), money(r, 1000, 500000), day(r, from, 2404),
            pick(r, Priorities))))
      case "lineitem" =>
        val from = LocalDate.of(1995, 1, 2)
        (schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
          "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
          "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
          "l_returnflag" -> StringType, "l_linestatus" -> StringType,
          "l_shipdate" -> TimestampNTZType),
          (0 until sizes.lineitem).map(_ => Row(r.nextInt(sizes.orders).toLong,
            r.nextInt(sizes.part).toLong, r.nextInt(sizes.supplier).toLong, 1 + r.nextInt(7),
            (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
            day(r, from, 2500))))
      case "events" =>
        val start = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanMicros = 30L * 86400L * 1000000L
        val ts = Array.fill(sizes.events)((r.nextDouble() * spanMicros).toLong).sorted
        (schema("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
          "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
          ts.toSeq.zipWithIndex.map { case (us, i) => Row(i.toLong, start.plusNanos(us * 1000L),
            r.nextInt(sizes.users).toLong, pick(r, EventTypes),
            math.round(-math.log(1 - r.nextDouble()) * 1000) / 100.0,
            s"""{"k": ${r.nextInt(100)}}""") })
      case "documents" =>
        (schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
          "source" -> StringType, "n_chars" -> LongType),
          (0 until sizes.documents).map { i =>
            val text = Seq.fill(8 + r.nextInt(90))(pick(r, Vocab)).mkString(" ")
            Row(i.toLong, text, pick(r, Langs), s"src${i % 20}", text.length.toLong)
          })
      case "embeddings" =>
        (schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
          (0 until sizes.embeddings).map { i =>
            val v = Array.fill(64)(r.nextGaussian())
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
          })
    }
  }

  /** Write every table under `dir` as `<name>.parquet` (one file each). */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val sizes = Sizes(sf)
    Tables.foreach { name =>
      val (schema, rs) = rows(name, sizes, seed)
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
