package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanLike, GenerateExec,
  LocalTableScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

import graft.functions._

/** graft's session extension: the SQL surface of its native codegen'd
  * expressions, and one physical planner rule,
  * [[GraftExtensions.SmallSortInOnePartition]]. Every graft session
  * binds it through [[Tables.configure]]; a session built another way
  * gets it the standard Spark-extension way, at session build:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * It makes `simhash64`, `minhash_bands`, `srp_bands`, `hashed_shingles`
  * and `token_count` callable from `spark.sql(...)` / `expr(...)` — so
  * a pure-SQL user (a notebook, a dbt-style pipeline, spark-sql CLI)
  * gets the same one-pass native kernels the DataFrame API uses, not a
  * reimplementation. Sizing parameters (k, bands, bits, n) must be
  * literal integers: they shape the expression's output schema and the
  * generated code, exactly like the DataFrame constructors.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => GraftExtensions.SmallSortInOnePartition)
  }
}

object GraftExtensions {

  /** A global sort over an input that AQE would read as one partition
    * anyway sorts in that partition: the `ENSURE_REQUIREMENTS` range
    * exchange under the `SortExec` becomes `CoalesceExec(1)`. The range
    * exchange costs a `RangePartitioner` sampling job, which recomputes
    * the input, plus a map stage; AQE then coalesces its output into the
    * one partition the sort runs in. Over `CoalesceExec(1)` the same
    * single task sorts the same rows, so rows and order are unchanged.
    *
    * "One partition" is AQE's own coalescing bound: the input is at most
    * `coalescePartitions.minPartitionSize`, or, without
    * `parallelismFirst`, at most the larger of that and
    * `advisoryPartitionSizeInBytes`. The rule is off where that
    * coalescing is off.
    *
    * The size is the logical estimate of the sort's input, decided only
    * when it rests on something measured: while an exchange below has
    * not run, the rule leaves the sort alone and decides again when
    * AQE re-plans on that stage's runtime statistics. With no exchange
    * below, it decides on the planner's estimate for a pipeline over
    * file scans or local rows. It never fires through a `GenerateExec`,
    * whose estimate does not count the rows it adds, nor over an input
    * it cannot size (an RDD or checkpoint scan, a cache not yet read). */
  object SmallSortInOnePartition extends Rule[SparkPlan] {
    def apply(plan: SparkPlan): SparkPlan =
      if (!conf.coalesceShufflePartitionsEnabled) plan
      else {
        val min = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
        val onePartition = BigInt(
          if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) min
          else min max conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        plan.transformUp {
          case s @ SortExec(_, true,
                ShuffleExchangeExec(_: RangePartitioning, input, ENSURE_REQUIREMENTS, _), _)
              if inputBytes(s, input).exists(_ <= onePartition) =>
            s.withNewChildren(Seq(CoalesceExec(1, input)))
        }
      }

    /** The sort input's estimated size, if it can be decided now. */
    private def inputBytes(sort: SortExec, input: SparkPlan): Option[BigInt] = {
      val sized = !input.exists {
        case _: Exchange | _: GenerateExec => true
        case _ => false
      } && input.collectLeaves().forall {
        case q: QueryStageExec => q.isMaterialized
        case _: FileSourceScanLike | _: BatchScanExec | _: LocalTableScanExec => true
        case _ => false
      }
      if (sized) sort.logicalLink.collect { case l: Sort => l.child.stats.sizeInBytes }
      else None
    }
  }

  private def intArg(fn: String, pos: Int, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$fn: argument $pos must be a literal integer, got $e")
  }
  private def longArg(fn: String, pos: Int, e: Expression): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: argument $pos must be a literal integer, got $e")
  }
  private def arity(fn: String, want: String): Nothing =
    throw new IllegalArgumentException(s"$fn expects $want arguments")

  private def info(name: String, clazz: Class[_], usage: String): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name) // usage lives in the scaladoc

  /** (identifier, info, builder) triples — the exact shape
    * `SparkSessionExtensions.injectFunction` consumes. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("simhash64"),
      info("simhash64", classOf[SimHash64],
        "simhash64(text) - 64-bit SimHash of whitespace tokens"),
      {
        case Seq(c) => SimHash64(c)
        case _ => arity("simhash64", "1 (text)")
      }),
    (FunctionIdentifier("token_count"),
      info("token_count", classOf[TokenCount],
        "token_count(text) - whitespace token count, allocation-free byte scan"),
      {
        case Seq(c) => TokenCount(c)
        case _ => arity("token_count", "1 (text)")
      }),
    (FunctionIdentifier("hashed_shingles"),
      info("hashed_shingles", classOf[HashedShingles],
        "hashed_shingles(text, n) - sorted distinct xxhash64 of n-token shingles"),
      {
        case Seq(c, n) => HashedShingles(c, intArg("hashed_shingles", 2, n))
        case _ => arity("hashed_shingles", "2 (text, n)")
      }),
    (FunctionIdentifier("minhash_bands"),
      info("minhash_bands", classOf[MinHashBands],
        "minhash_bands(shingle_hashes, k, bands) - LSH band hashes of a k-minhash signature"),
      {
        case Seq(c, k, b) =>
          MinHashBands(c, intArg("minhash_bands", 2, k), intArg("minhash_bands", 3, b))
        case _ => arity("minhash_bands", "3 (shingle_hashes, k, bands)")
      }),
    (FunctionIdentifier("srp_bands"),
      info("srp_bands", classOf[SrpBands],
        "srp_bands(vector, bits, bands[, seed]) - signed-random-projection LSH signatures"),
      {
        case Seq(c, bits, b) =>
          SrpBands(c, intArg("srp_bands", 2, bits), intArg("srp_bands", 3, b), 42L)
        case Seq(c, bits, b, seed) =>
          SrpBands(c, intArg("srp_bands", 2, bits), intArg("srp_bands", 3, b),
            longArg("srp_bands", 4, seed))
        case _ => arity("srp_bands", "3-4 (vector, bits, bands[, seed])")
      }),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim", classOf[CosineSim],
        "cosine_sim(a, b) - one-pass native cosine similarity of two " +
          "float/double vectors"),
      {
        case Seq(a, b) => CosineSim(a, b)
        case _ => arity("cosine_sim", "2 (vector, vector)")
      }),
    (FunctionIdentifier("py_canonical_json"),
      info("py_canonical_json", classOf[PyCanonicalJson],
        "py_canonical_json(json_text) - CPython json.dumps(sort_keys=True, " +
          "ensure_ascii=True) byte-identical rendering; null on malformed input"),
      {
        case Seq(c) => PyCanonicalJson(c)
        case _ => arity("py_canonical_json", "1 (json_text)")
      }),
    (FunctionIdentifier("qcel_molecule_canonical"),
      info("qcel_molecule_canonical", classOf[QcelMoleculeCanonical],
        "qcel_molecule_canonical(molecule_struct) - QCElemental get_hash " +
          "pre-image over the 10-field molecule struct (sha1() of it is the " +
          "reference molecule_hash)"),
      {
        case Seq(c) => QcelMoleculeCanonical(c)
        case _ => arity("qcel_molecule_canonical", "1 (molecule_struct)")
      }),
    // Compositional sketch/layout primitives — registered as DIRECT
    // Catalyst trees (a composed public Column can't cross the registry
    // boundary: it wraps an unresolvable ColumnNode), mirroring the
    // Sketches/Layout column builders expression-for-expression. Pinned
    // equal to the DataFrame forms in ExtensionsSpec.
    (FunctionIdentifier("hll_bucket"),
      info("hll_bucket", graft.sketch.Sketches.getClass,
        "hll_bucket(value) - HLL register index (first 8 md5 bits)"),
      {
        case Seq(c) => CatalystBuilders.hllBucket(c)
        case _ => arity("hll_bucket", "1 (value)")
      }),
    (FunctionIdentifier("hll_rho"),
      info("hll_rho", graft.sketch.Sketches.getClass,
        "hll_rho(value) - HLL register rank (leading zeros of the 52-bit md5 word + 1)"),
      {
        case Seq(c) => CatalystBuilders.hllRho(c)
        case _ => arity("hll_rho", "1 (value)")
      }),
    (FunctionIdentifier("zorder_key"),
      info("zorder_key", graft.operators.Layout.getClass,
        "zorder_key(a, b) - 42-bit Morton interleave of two non-negative keys"),
      {
        case Seq(a, b) => CatalystBuilders.zOrderKey(a, b)
        case _ => arity("zorder_key", "2 (a, b)")
      }),
    (FunctionIdentifier("hilbert_key"),
      info("hilbert_key", classOf[HilbertKey],
        "hilbert_key(x, y[, bits=21]) - Hilbert-curve index of a 2-D point. " +
          "Domain: 0 <= x, y < 2^bits. Inputs are cast to LONG (fractional " +
          "values truncate); out-of-domain coordinates are NOT rejected and " +
          "yield meaningless locality keys - validate upstream."),
      {
        case Seq(a, b) =>
          HilbertKey(Cast(a, LongType), Cast(b, LongType), 21)
        case Seq(a, b, bits) =>
          HilbertKey(Cast(a, LongType), Cast(b, LongType),
            intArg("hilbert_key", 3, bits))
        case _ => arity("hilbert_key", "2 or 3 (x, y[, bits])")
      }))

  /** Catalyst-tree twins of the compositional Column builders. */
  private object CatalystBuilders {
    import org.apache.spark.sql.catalyst.expressions.{Bin, BitwiseAnd, BitwiseOr,
      CaseWhen, Cast, Conv, EqualTo, Length, Md5, ShiftLeft, ShiftRight, Substring, Subtract}
    import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

    private def md5hex(c: Expression): Expression =
      Md5(Cast(Cast(c, StringType), BinaryType))

    /** conv(substr(md5(v), 1, 2), 16, 10)::int — ≡ Sketches.hllBucket. */
    def hllBucket(c: Expression): Expression =
      Cast(Conv(Substring(md5hex(c), Literal(1), Literal(2)),
        Literal(16), Literal(10)), IntegerType)

    /** 53 − bit_length(w) with the zero word pinned to 53 — ≡ Sketches.hllRho. */
    def hllRho(c: Expression): Expression = {
      val w = Cast(Conv(Substring(md5hex(c), Literal(3), Literal(13)),
        Literal(16), Literal(10)), LongType)
      Cast(CaseWhen(
        Seq((EqualTo(w, Literal(0L)), Literal(53))),
        Some(Subtract(Literal(53), Length(Bin(w))))), IntegerType)
    }

    /** Bitwise Morton fold — ≡ Layout.zOrderKey(bits = 21). */
    def zOrderKey(a: Expression, b: Expression): Expression = {
      val al = Cast(a, LongType); val bl = Cast(b, LongType)
      (0 until 21).foldLeft[Expression](Literal(0L)) { (acc, i) =>
        BitwiseOr(acc, BitwiseOr(
          ShiftLeft(BitwiseAnd(ShiftRight(al, Literal(i)), Literal(1L)),
            Literal(2 * i + 1)),
          ShiftLeft(BitwiseAnd(ShiftRight(bl, Literal(i)), Literal(1L)),
            Literal(2 * i))))
      }
    }
  }
}
