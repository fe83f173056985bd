package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  /** Child sessions whose AQE-sized range exchanges come out as ONE
    * shard (coalesced toward a 1 GiB advisory size) and as MANY
    * (coalescing off, 16 initial partitions) — for pinning that the
    * shard-offset operators do not depend on where shard boundaries
    * fall. */
  lazy val oneAndManyShards: Seq[(String, SparkSession)] = {
    val one = spark.newSession()
    one.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    one.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1g")
    val many = spark.newSession()
    many.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    many.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "16")
    Seq("one shard" -> one, "many shards" -> many)
  }

  /** `f`'s result and the number of Spark jobs it started. */
  def jobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graftshim.ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.graftshim.ListenerBus.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `df`'s rows as a local relation of session `s`. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Checks that the sharded prefix scan cuts `df` into exactly one
    * shard in the one-shard session and into more than one (shards
    * holding rows) in the many-shard session. */
  def assertShards(sharding: String, df: DataFrame, orderCols: Seq[Column]): Unit = {
    var shards = -1
    graft.operators.Sampling.shardedPrefixScan(df, orderCols, lit(1L)) {
      (ranged, prefix, _) => shards = prefix.length - 1; ranged.limit(0)
    }
    if (sharding == "many shards") assert(shards > 1, s"$sharding: $shards")
    else assert(shards === 1, sharding)
  }
}

object SparkSuite {
  private var live: SparkSession = _

  /** The shared session; a new one (a new Spark application) once a
    * suite has stopped it. */
  def session: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) live = Tables.session(4)
    live
  }
}
