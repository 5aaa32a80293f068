package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The inputs the program sees. The tables are the benchmark's copies
  * of graft's generated test data (`data/`: the sf0.01 `events` table,
  * the sf0.1 `documents` and `embeddings` tables); the seed picks what
  * is done with them (query order, base/held-out split, delete and
  * query samples) and drives the collector's fleet. The same seed gives
  * the same inputs.
  */
object Gen {

  /** An independent, reproducible stream per purpose. */
  def rng(seed: Long, stream: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L ^ stream.hashCode.toLong)

  final case class Doc(id: Long, text: String)

  /** The `documents` table, in id order. */
  def docs(spark: SparkSession, data: String): IndexedSeq[Doc] =
    graft.Tables.documents(spark, data).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => Doc(r.getLong(0), r.getString(1))).toIndexedSeq

  /** The `embeddings` table (64-d floats), in id order. */
  def vectors(spark: SparkSession, data: String): IndexedSeq[(Long, Array[Float])] =
    graft.Tables.embeddings(spark, data).select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq

  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def vecFrame(spark: SparkSession, vecs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vecs.map { case (id, v) => (id, v.map(_.toDouble)) }.toDF("id", "v")
  }

  /** The collector's view of a fleet: `instances` servers with
    * `digests` statement digests each, whose cumulative counters grow
    * by a seeded amount every poll. Each poll retires ~1 % of each
    * instance's digests for new ones (new digests' first delta is their
    * counter), and about one poll in 25 restarts one instance, whose
    * counters start again from zero (a counter reset).
    *
    * `advance` makes the next snapshot and `fetch` hands it to graft,
    * so the benchmark's own generation stays outside the timed poll.
    */
  final class Fleet(seed: Long, instances: Int, digests: Int)
      extends graft.sources.PollingSource.SnapshotFetcher {
    private val r = rng(seed, "fleet")
    private var nextDigest = 0L
    private def newName(): String = { nextDigest += 1; f"d$nextDigest%08d" }
    private val names = Array.fill(instances, digests)(newName())
    private val counters = Array.fill(instances, digests)(0L) // micro-units
    private var snapshot: Seq[Row] = Nil

    def advance(): Unit = {
      val reset = if (r.nextInt(25) == 0) r.nextInt(instances) else -1
      val out = new scala.collection.mutable.ArrayBuffer[Row](instances * digests)
      for (i <- 0 until instances) {
        if (i == reset) java.util.Arrays.fill(counters(i), 0L)
        for (_ <- 0 until math.max(1, digests / 100)) {
          val j = r.nextInt(digests)
          names(i)(j) = newName()
          counters(i)(j) = 0L
        }
        for (j <- 0 until digests) {
          counters(i)(j) += r.nextInt(1000000000)
          out += Row(i.toLong, names(i)(j), java.math.BigDecimal.valueOf(counters(i)(j), 6))
        }
      }
      snapshot = out.toSeq
    }

    override def fetch(spark: SparkSession, pollIndex: Long): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(snapshot, 4), Fleet.schema)
  }

  object Fleet {
    val schema: StructType = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("counter", DecimalType(18, 6))))
  }
}
