package graft

import org.apache.spark.sql.functions._

import graft.functions.{HashedShingles, MinHashBands, SimHash64, SrpBands, TokenCount}

/** The SQL function surface (GraftExtensions): every native expression
  * callable from spark.sql must agree exactly with its DataFrame form —
  * same kernel, two front doors. The functions come with the session:
  * [[Tables.configure]] binds the extension. */
class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "  "),
    (4L, "one")
  ).toDF("id", "text")

  test("simhash64 and token_count from SQL equal the DataFrame forms") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT id, simhash64(text) AS h, token_count(text) AS n FROM ext_docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val viaDf = docs.select(col("id"), SimHash64(col("text")).as("h"),
        TokenCount(col("text")).as("n")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("hashed_shingles and minhash_bands from SQL equal the DataFrame forms") {
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT id, minhash_bands(hashed_shingles(text, 2), 16, 4) AS b
        |FROM ext_docs WHERE token_count(text) >= 2 ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val viaDf = docs.filter(TokenCount(col("text")) >= 2)
      .select(col("id"),
        MinHashBands(HashedShingles(col("text"), 2), 16, 4).as("b"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("srp_bands from SQL equals the DataFrame form, default and explicit seed") {
    val vecs = Seq((1L, Seq(0.1, -0.4, 0.3)), (2L, Seq(-0.2, 0.9, 0.5)))
      .toDF("id", "v")
    vecs.createOrReplaceTempView("ext_vecs")
    val viaSql = spark.sql(
      "SELECT id, srp_bands(v, 8, 2) AS s, srp_bands(v, 8, 2, 7) AS s7 FROM ext_vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    val viaDf = vecs.select(col("id"), SrpBands(col("v"), 8, 2).as("s"),
        SrpBands(col("v"), 8, 2, 7L).as("s7")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    assert(viaSql.toSeq === viaDf.toSeq)
    assert(viaSql.exists { case (_, s, s7) => s != s7 }, "seed must change the signature")
  }

  test("py_canonical_json and qcel_molecule_canonical from SQL equal the DataFrame forms") {
    val specs = Seq(
      (1L, """{"b": 2, "a": [1.5, true, null]}"""),
      (2L, """{"nested": {"z": "x", "y": 10}}"""),
      (3L, "{broken")
    ).toDF("id", "j")
    specs.createOrReplaceTempView("ext_specs")
    val viaSql = spark.sql(
      "SELECT id, py_canonical_json(j) AS c FROM ext_specs ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    val viaDf = specs.select(col("id"),
        graft.functions.PyCanonicalJson(col("j")).as("c")).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(viaSql.toSeq === viaDf.toSeq)
    assert(viaSql(0)._2 === Some("""{"a": [1.5, true, null], "b": 2}"""))
    assert(viaSql(2)._2.isEmpty)

    val viaMolSql = spark.sql(
      """SELECT sha1(qcel_molecule_canonical(named_struct(
        |  'symbols', array('He'), 'masses', CAST(null AS ARRAY<DOUBLE>),
        |  'charge', 0.0D, 'mult', 1, 'real', array(true),
        |  'geometry', array(0.5D, 1.0D, -0.25D),
        |  'fragments', CAST(null AS ARRAY<ARRAY<INT>>),
        |  'fragment_charges', CAST(null AS ARRAY<DOUBLE>),
        |  'fragment_multiplicities', CAST(null AS ARRAY<INT>),
        |  'connectivity', CAST(null AS ARRAY<STRUCT<a:INT,b:INT,bo:DOUBLE>>)))) AS h
        |""".stripMargin).collect()(0).getString(0)
    val viaMolDf = spark.range(1).select(graft.functions.Molecules.qcelMoleculeHash(
        array(lit("He")), lit(null), lit(0.0), lit(1),
        array(lit(true)), array(lit(0.5), lit(1.0), lit(-0.25))).as("h"))
      .collect()(0).getString(0)
    assert(viaMolSql === viaMolDf)
  }

  test("compositional primitives from SQL equal the DataFrame forms") {
    docs.createOrReplaceTempView("ext_docs2")
    val viaSql = spark.sql(
      """SELECT id, hll_bucket(id) AS b, hll_rho(id) AS r,
        |  zorder_key(id, id + 1) AS z,
        |  hilbert_key(id, id + 1) AS h, hilbert_key(id, id + 1, 3) AS h3
        |FROM ext_docs2 ORDER BY id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val viaDf = docs.select(col("id"),
        graft.sketch.Sketches.hllBucket(col("id")).as("b"),
        graft.sketch.Sketches.hllRho(col("id")).as("r"),
        graft.operators.Layout.zOrderKey(col("id"), col("id") + 1).as("z"),
        graft.operators.Layout.hilbertKey(col("id"), col("id") + 1).as("h"),
        graft.operators.Layout.hilbertKey(col("id"), col("id") + 1, bits = 3).as("h3"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(viaSql.toSeq === viaDf.toSeq)
  }

  test("sizing parameters must be literals — a column argument fails loudly") {
    docs.createOrReplaceTempView("ext_docs")
    val e = intercept[Exception] {
      spark.sql("SELECT hashed_shingles(text, id) FROM ext_docs").collect()
    }
    assert(e.getMessage.contains("literal integer") ||
      Option(e.getCause).exists(_.getMessage.contains("literal integer")))
  }
}
