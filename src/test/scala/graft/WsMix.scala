package graft

/** Seeded whitespace-mix strings for the split-parity tests: bytes drawn
  * from `a`, `b`, `é` and the six ASCII whitespace bytes Java `\s`
  * matches, in three shapes — free mixes, a body between leading and
  * trailing whitespace runs, and all-whitespace strings (empty included).
  * Every `split(trim(text), "\\s+")` edge (space-only trim, the empty
  * field a leading or trailing non-space run leaks, the [""] of a
  * space-only text) shows up many times over. */
object WsMix {
  private val ws = " \t\n\u000B\f\r"
  private val alphabet = "abé" + ws

  def corpus(seed: Long, n: Int = 300): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def draw(from: String, len: Int): String =
      Seq.fill(len)(from(rnd.nextInt(from.length))).mkString
    (0 until n).map { i =>
      i % 3 match {
        case 0 => draw(alphabet, rnd.nextInt(40))
        case 1 => draw(ws, 1 + rnd.nextInt(4)) + draw(alphabet, rnd.nextInt(30)) +
          draw(ws, 1 + rnd.nextInt(4))
        case _ => draw(ws, rnd.nextInt(8))
      }
    }
  }
}
