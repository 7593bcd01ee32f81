package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** Seeded stand-in for the sf0.01 test tables, limited to what the
  * registry workload's entries read: `customer` (successor-chain graphs),
  * `orders` (its row count sizes g_scc) and `embeddings` (64-d vectors
  * around 10 labelled centroids). Written as one parquet directory per
  * table, the layout `RelationalQueries.t` reads.
  */
object RegistryData {
  val Customers = 1500
  val Orders = 2500
  val Vectors = 500
  val Dim = 64

  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val rnd = new scala.util.Random(seed)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customers = (0 until Customers).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
      math.round(rnd.nextDouble() * 1100000 - 100000) / 100.0, segments(rnd.nextInt(segments.size))))
    val orders = (0 until Orders).map(k => Row(k.toLong, rnd.nextInt(Customers).toLong))
    val centroids = Array.fill(10, Dim)(rnd.nextGaussian())
    val vectors = (0 until Vectors).map { v =>
      val label = rnd.nextInt(10)
      val x = centroids(label).map(_ + 0.8 * rnd.nextGaussian())
      val norm = math.sqrt(x.map(a => a * a).sum)
      Row(v.toLong, x.map(a => (a / norm).toFloat).toSeq, label)
    }
    def save(name: String, rows: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    save("customer", customers, StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))))
    save("orders", orders, StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType))))
    save("embeddings", vectors, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
  }
}
