package graft

/** The build-once artifact registry ([[Tables.artifact]]): Bench's seed
  * call builds every declared artifact, consumer rows read those entries
  * instead of rebuilding them, and a seeded row answers like an unseeded
  * one. */
class ArtifactSpec extends SparkSuite {

  test("seeding builds every artifact once; consumer rows rebuild none") {
    SparkEntry.seedArtifacts(spark, sfDir)
    val seeded = Tables.builtArtifacts(spark).filter(_._1._1 == sfDir)
    assert(Set("dd_minhash_pairs", "sim_ivf", "sim_anchor_fit", "sim_planted_fit",
      "sim_ivfpq_fits", "tx_dsir_weights", "tx_postings", "j14_bucketed_layout")
      .subsetOf(seeded.keySet.map(_._2)))
    val minhash = SparkEntry.queries("dd_minhash")(spark, sfDir).collect().toSeq
    for (q <- Seq("sim_knn_ivfpq_r", "j14_bucketed_join", "dd_minhash_pipeline",
                  "tx_phrase_indexed"))
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
    val after = Tables.builtArtifacts(spark).filter(_._1._1 == sfDir)
    assert(after.keySet == seeded.keySet)
    for ((k, v) <- seeded)
      assert(after(k).asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef], s"$k was rebuilt")
    // the same data under a key nothing has seeded: dd_minhash builds the
    // pair table itself and must answer the same rows
    val unseeded = sfDir + "/"
    assert(!Tables.builtArtifacts(spark).keySet.exists(_._1 == unseeded))
    assert(SparkEntry.queries("dd_minhash")(spark, unseeded).collect().toSeq == minhash)
    assert(minhash.nonEmpty)
  }
}
