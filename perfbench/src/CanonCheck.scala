package perfbench

import org.apache.spark.sql.Row

/** Prints `Canon`'s rendering and hashes of fixed synthetic inputs as one
  * JSON object; `perfbench/tests/test_perfbench.py` recomputes the same
  * inputs with `scripts/check.py`'s `canon` and compares.
  */
object CanonCheck {
  val doubles = Seq(0.1, 1e-5, 1.5e16, 100.0, -0.0, Double.NaN, 1.0 / 3, math.sqrt(2.0),
    Double.MinPositiveValue, Double.MaxValue, 123456.789, 0.07, 1e16, 9007199254740993.0,
    -2.5e-7, 1.0000000000000002, 0.0001, 123.0e-10)

  def main(args: Array[String]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val values = doubles.map(Canon.value) ++ Seq(
      Canon.value(0.1f),
      Canon.value(Seq(1.5, 2.0)),
      Canon.value(null),
      Canon.value(true),
      Canon.value(42L),
      Canon.value("x y"),
      Canon.value(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 11, 172425000)),
      Canon.value(java.time.LocalDateTime.of(1998, 2, 6, 0, 0)))
    val ab = Canon.hash(Seq("b", "a"), Seq(Row(1L, "x"), Row(2L, "y")))
    val ba = Canon.hash(Seq("a", "b"), Seq(Row("y", 2L), Row("x", 1L)))
    val ulp = Canon.hash(Seq("a", "b"), Seq(Row("y", 2L), Row("x", 1.0000000000000002)))
    val one = Canon.hash(Seq("a", "b"), Seq(Row("y", 2L), Row("x", 1.0)))
    println(s"""{"values":${values.map(q).mkString("[", ",", "]")},""" +
      s""""hash_ba":${q(ab)},"hash_ab":${q(ba)},"hash_ulp":${q(ulp)},"hash_one":${q(one)}}""")
  }
}
