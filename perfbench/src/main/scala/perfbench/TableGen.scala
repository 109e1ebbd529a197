package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Random

/** Seeded generator of the tables the query-library workload reads, in
  * the layout `graft.core.Tables` expects (`<dir>/<name>.parquet`):
  * `documents`, `embeddings`, `customer`, `orders` and `lineitem`. Rows
  * are drawn in the JVM from one `Random(seed)` per table, so the
  * same seed and scale give the same tables.
  */
object TableGen {

  final case class Sizes(documents: Int, embeddings: Int, customers: Int,
                         orders: Int, lineitems: Int)

  private val vocab = Vector("stream", "batch", "table", "merge", "window",
    "shuffle", "filter", "join", "sort", "hash", "scan", "index", "vector",
    "token", "query", "plan", "cache", "spill", "task", "stage", "row",
    "column", "key", "value", "fast", "slow", "big", "small", "data",
    "file", "log")

  private val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def write(spark: SparkSession, dir: String, name: String,
                    schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def documentRows(seed: Long, n: Int): Vector[Row] = {
    val rnd = new Random(seed ^ 0x5EED0001L)
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      // one document in eight is a near-duplicate of an earlier one (one
      // token swapped), so the dedup operators find real clusters
      texts(i) =
        if (i > 0 && rnd.nextInt(8) == 0) {
          val ws = texts(rnd.nextInt(i)).split(' ')
          ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
          ws.mkString(" ")
        } else Vector.fill(8 + rnd.nextInt(72))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
    }
    texts.toVector.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        t.length.toLong)
    }
  }

  def write(spark: SparkSession, dir: String, seed: Long, sz: Sizes): Unit = {
    write(spark, dir, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), documentRows(seed, sz.documents))

    val er = new Random(seed ^ 0x5EED0002L)
    val centers = Vector.fill(10)(Array.fill(64)(er.nextGaussian()))
    write(spark, dir, "embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      (0 until sz.embeddings).map { i =>
        val label = er.nextInt(10)
        val v = centers(label).map(_ + 1.5 * er.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / nrm).toFloat).toSeq, label)
      })

    val cr = new Random(seed ^ 0x5EED0003L)
    write(spark, dir, "customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until sz.customers).map { i =>
        Row(i.toLong, f"Customer#$i%09d", cr.nextInt(25),
          math.round((cr.nextDouble() * 11000 - 1000) * 100) / 100.0,
          segments(cr.nextInt(segments.size)))
      })

    val or = new Random(seed ^ 0x5EED0004L)
    val day0 = java.time.LocalDate.of(1995, 1, 1)
    def ts(days: Int) = java.sql.Timestamp.valueOf(day0.plusDays(days.toLong).atStartOfDay())
    write(spark, dir, "orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      (0 until sz.orders).map { i =>
        Row(i.toLong, or.nextInt(sz.customers).toLong,
          Vector("F", "O", "P")(or.nextInt(3)),
          math.round((1000 + or.nextDouble() * 499000) * 100) / 100.0,
          ts(or.nextInt(2400)), priorities(or.nextInt(priorities.size)))
      })

    val lr = new Random(seed ^ 0x5EED0005L)
    write(spark, dir, "lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until sz.lineitems).map { _ =>
        val qty = (1 + lr.nextInt(50)).toDouble
        Row(lr.nextInt(sz.orders).toLong, lr.nextInt(2000).toLong,
          lr.nextInt(100).toLong, 1 + lr.nextInt(7), qty,
          math.round(qty * (900 + lr.nextDouble() * 1200) * 100) / 100.0,
          lr.nextInt(11) / 100.0, lr.nextInt(9) / 100.0,
          Vector("A", "N", "R")(lr.nextInt(3)), Vector("F", "O")(lr.nextInt(2)),
          ts(lr.nextInt(2500)))
      })
  }
}
