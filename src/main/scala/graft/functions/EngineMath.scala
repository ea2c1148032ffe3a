package graft.functions

/** The engine's own arithmetic for code that runs off the plan: driver-side
  * folds and loops, RDD folds and compiled kernels that must reproduce a
  * Catalyst expression bit for bit. Each function here is the ONE copy of
  * the Catalyst semantics it names; EngineMathSpec runs the same inputs
  * through Catalyst, interpreted and through generated code, and asserts
  * bit equality. A new off-plan emulation goes here, with a spec case,
  * instead of being restated at its call site. */
object EngineMath {

  /** Catalyst's `round(x, scale)` on DOUBLE (`RoundBase`, HALF_UP):
    * NaN and ±Inf pass through unchanged, every other value goes
    * `java.math.BigDecimal.valueOf` (the shortest decimal that reads back
    * as `x`) → `setScale(scale, HALF_UP)` → `doubleValue`, the sequence
    * both Catalyst's interpreted and its generated code run. */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /** Catalyst's STRING `<`: unsigned UTF-8 byte order (UTF8String binary
    * order = code-point order), NOT java's UTF-16 unit order, so a
    * driver-side tie-break reproduces `orderBy` on a string column. */
  def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Catalyst's `split(text, ' ')`, the tokenization rule of
    * `Text.withTokens`: every single space separates, so runs of spaces
    * and leading or trailing spaces yield empty tokens, and "" is one
    * empty token (Spark's split never drops trailing empties). */
  def tokens(text: String): Array[String] = text.split(" ", -1)
}
