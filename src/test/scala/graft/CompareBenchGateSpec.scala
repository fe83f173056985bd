package graft

import org.scalatest.funsuite.AnyFunSuite

/** `tools/compare_bench.py --gate` on small hand-made artifacts: a row that
  * failed at scale must breach the gate. Bench records a row that never
  * finished as -1 and names it in `failed`; the row-ratio comparison skips
  * such rows, so without its own check a failed row would pass
  * `ScaleBaselineSpec` with "0 breach(es)". */
class CompareBenchGateSpec extends AnyFunSuite {

  private val base = Map("a7_time_buckets" -> 1.0, "q_fast" -> 2.0, "q_slow" -> 10.0)

  private def artifact(queries: Map[String, Double], failed: Seq[String]): String = {
    val f = java.io.File.createTempFile("gate", ".json")
    f.deleteOnExit()
    val qs = queries.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    java.nio.file.Files.write(f.toPath,
      s"""{"metric":"total","queries":$qs,"reps":3,"failed":$fl}""".getBytes("UTF-8"))
    f.getPath
  }

  private def gate(cur: String, baseline: String): (Int, String) = {
    val havePy =
      try new ProcessBuilder("python3", "-c", "import json").start().waitFor() == 0
      catch { case _: java.io.IOException => false }
    assume(havePy, "python3 not present")
    val p = new ProcessBuilder("python3", "tools/compare_bench.py", "--gate", cur, baseline)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  test("gate breaches on a row recorded as -1 and listed in failed") {
    val (code, out) = gate(artifact(base + ("q_slow" -> -1.0), Seq("q_slow")),
      artifact(base, Nil))
    assert(code == 1, out)
    assert(out.contains("GATE FAIL q_slow"), out)
  }

  test("gate breaches on a row at -1 that failed is silent about") {
    val (code, out) = gate(artifact(base + ("q_fast" -> -1.0), Nil), artifact(base, Nil))
    assert(code == 1, out)
    assert(out.contains("GATE FAIL q_fast"), out)
  }

  test("gate breaches on a failed row that kept the median of its earlier reps") {
    val (code, out) = gate(artifact(base, Seq("q_fast")), artifact(base, Nil))
    assert(code == 1, out)
    assert(out.contains("GATE FAIL q_fast"), out)
  }
}
