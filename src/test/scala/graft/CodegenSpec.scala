package graft

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._

/** Janino-compiles the generated code of every native expression — a
  * package-private static helper (no forwarder on the companion class),
  * a bad cast, or a malformed code template would otherwise fail
  * SILENTLY at runtime: Spark logs the Janino error and drops the whole
  * stage back to interpreted execution, erasing the perf the native
  * expressions exist to provide while results stay correct. */
class CodegenSpec extends SparkSuite {

  test("all native expressions survive codegen compilation") {
    val str = BoundReference(0, StringType, nullable = true)
    val arrS = BoundReference(1, ArrayType(StringType), nullable = true)
    val arrD = BoundReference(2, ArrayType(DoubleType), nullable = true)
    val arrF = BoundReference(3, ArrayType(FloatType), nullable = true)
    val arrL = BoundReference(4, ArrayType(LongType), nullable = true)
    // generate() throws on Janino compile failure (unlike
    // UnsafeProjection.create, which falls back to interpreted silently)
    val molStruct = BoundReference(5, StructType(Seq(
      StructField("symbols", ArrayType(StringType)),
      StructField("masses", ArrayType(DoubleType)),
      StructField("charge", DoubleType),
      StructField("mult", IntegerType),
      StructField("real", ArrayType(BooleanType)),
      StructField("geometry", ArrayType(DoubleType)),
      StructField("fragments", ArrayType(ArrayType(IntegerType))),
      StructField("fragment_charges", ArrayType(DoubleType)),
      StructField("fragment_multiplicities", ArrayType(IntegerType)),
      StructField("connectivity", ArrayType(StructType(Seq(
        StructField("a", IntegerType), StructField("b", IntegerType),
        StructField("bo", DoubleType))))))), nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      graft.functions.SimHash64(str),
      graft.functions.TokenCount(str),
      graft.functions.HashedShingles(str, 3),
      graft.functions.MinHashBands(arrS, 16, 4),
      graft.functions.MinHashBands(arrL, 16, 4),
      graft.functions.SrpBands(arrD, 8, 2, 42L),
      graft.functions.SrpBands(arrF, 8, 2, 42L),
      graft.functions.PyCanonicalJson(str),
      graft.functions.QcelMoleculeCanonical(molStruct),
      graft.functions.CosineSim(arrD, arrD),
      graft.functions.CosineSim(arrF, arrD),
      graft.functions.SortedIntersectCount(arrL, arrL),
      graft.functions.HilbertKey(
        BoundReference(6, LongType, nullable = true),
        BoundReference(7, LongType, nullable = true), 21)))
    assert(proj != null)
  }

  test("hill_formula: a null symbol gives a null formula under whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // range-derived arrays: no LocalRelation, so nothing folds away before
    // the generated projection runs
    val df = spark.range(3).select(col("id"),
      graft.functions.HillFormulaExpr(
        when(col("id") === 1L, array(lit("O"), lit(null).cast("string")))
          .otherwise(array(lit("H"), lit("H"), lit("O")))).as("formula"))
    assert(df.schema("formula").nullable,
      "a nullable symbol element must make the formula nullable")
    assert(df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w }.nonEmpty,
      "the projection must run in whole-stage codegen")
    val got = df.orderBy("id").collect().map(r => Option(r.getString(1))).toSeq
    assert(got === Seq(Some("H2O"), None, Some("H2O")))
  }

  test("native hilbert_key is identical to the aggregate-fold form (seeded sweep)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Layout
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    // corners + seams + random interior, at both the 3-bit grid the
    // adjacency pin uses and the full 21-bit production domain
    val edge = Seq((0L, 0L), (0L, 7L), (7L, 0L), (7L, 7L), (3L, 4L), (4L, 3L))
    val rand21 = (0 until 500).map { _ =>
      (rnd.nextLong().abs % (1L << 21), rnd.nextLong().abs % (1L << 21)) }
    val df = (edge ++ rand21).toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), bits = 21).as("native"),
        Layout.hilbertKeyFold(col("x"), col("y"), bits = 21).as("fold"),
        Layout.hilbertKey(col("x"), col("y"), bits = 3).as("native3"),
        Layout.hilbertKeyFold(col("x"), col("y"), bits = 3).as("fold3"))
    df.collect().foreach { r =>
      assert(r.getLong(2) === r.getLong(3),
        s"hilbert_key(21) diverged at (${r.getLong(0)},${r.getLong(1)})")
      assert(r.getLong(4) === r.getLong(5),
        s"hilbert_key(3) diverged at (${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("native cosine_sim is bit-identical to the HOF form (seeded sweep)") {
    import org.apache.spark.sql.functions._
    import graft.similarity.Vectors
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val d = 1 + rnd.nextInt(96)
      (i.toLong,
        Array.fill(d)(rnd.nextDouble() * 2 - 1),
        Array.fill(d)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("native"),
        Vectors.cosineHof(col("a"), col("b")).as("hof"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        "native cosine must be BIT-identical to the HOF fold")
    }
    // float input: native must match the HOF over the double-cast vectors
    val fdf = rows.map { case (i, a, b) =>
      (i, a.map(_.toFloat), b.map(_.toFloat)) }.toDF("id", "a", "b")
      .select(Vectors.cosine(col("a"), col("b")).as("native"),
        Vectors.cosineHof(Vectors.toDouble(col("a")),
          Vectors.toDouble(col("b"))).as("hof"))
    fdf.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // malformed vectors fail loudly, never silently mis-score
    val ex = intercept[Exception] {
      Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
        .select(Vectors.cosine(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("length mismatch")
      || Option(ex.getCause).exists(_.getMessage.contains("length mismatch")))
  }
}
