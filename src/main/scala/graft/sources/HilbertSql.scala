package graft.sources

/** Engine-portable SQL for q275's two layout keys over pre-quantized
  * `xq`/`yq` columns (integers in [0, 32767]).
  *
  * `hilbert` is the DuckDB spelling of the 15-bit Hilbert xy2d
  * transform, the oracle's independent twin of the engine's native
  * `graft_hilbert` kernel ([[graft.functions.Hilbert]]). It packs the
  * classic mutable-state loop (x, y, d — Wikipedia's xy2d with the
  * full-grid n−1 rotation, which keeps coordinates nonnegative at
  * every level) into ONE BIGINT: x in bits 0–14, y in bits 15–29, d in
  * bits 30–59 — so the fold is pure exact-integer arithmetic, spelled
  * as `list_reduce(list_prepend(init, range(14,-1,-1)), …)` (first list
  * element is the seed).
  *
  * `zorder` is the matching 15-bit Z-order interleave in either
  * engine's spelling; only the shift/xor spellings differ.
  */
private[graft] object HilbertSql {

  private def shl(spark: Boolean)(a: String, b: String) =
    if (spark) s"shiftleft($a, $b)" else s"($a << $b)"
  private def shr(spark: Boolean)(a: String, b: String) =
    if (spark) s"shiftright($a, $b)" else s"($a >> $b)"

  /** DuckDB Hilbert index expression (value in [0, 2^30)). */
  def hilbert: String = {
    val sl = shl(spark = false) _; val sr = shr(spark = false) _
    val X = "(p & 32767)"
    val Y = s"(${sr("p", "15")} & 32767)"
    val D = sr("p", "30")
    val RX = s"(${sr(X, "i")} & 1)"
    val RY = s"(${sr(Y, "i")} & 1)"
    val NX = s"(CASE WHEN $RY = 0 THEN (CASE WHEN $RX = 1 " +
      s"THEN 32767 - $Y ELSE $Y END) ELSE $X END)"
    val NY = s"(CASE WHEN $RY = 0 THEN (CASE WHEN $RX = 1 " +
      s"THEN 32767 - $X ELSE $X END) ELSE $Y END)"
    val ND = s"($D + ${sl("1", "2 * i")} * xor((3 * $RX), $RY))"
    val step = s"$NX + ${sl(NY, "15")} + ${sl(s"($ND)", "30")}"
    val init = s"xq + ${sl("yq", "15")}"
    s"(list_reduce(list_prepend(CAST($init AS BIGINT), " +
      s"range(14, -1, -1)), (p, i) -> $step) >> 30)"
  }

  /** 15-bit Z-order interleave (value in [0, 2^30)). */
  def zorder(spark: Boolean): String = {
    val sl = shl(spark) _; val sr = shr(spark) _
    (0 until 15).map { i =>
      val bx = s"(${sr("xq", i.toString)} & 1)"
      val by = s"(${sr("yq", i.toString)} & 1)"
      s"${sl(s"cast($bx as bigint)", (2 * i).toString)} + " +
        s"${sl(s"cast($by as bigint)", (2 * i + 1).toString)}"
    }.mkString("(", " + ", ")")
  }
}
