package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** The bench's JSON numbers must parse whatever the JVM's default
  * locale: under a comma-decimal locale `%.3f` prints `1,500`, which
  * breaks every line a JSON reader parses.
  */
class BenchFormatSpec extends AnyFunSuite {
  test("JSON numbers use a dot decimal under a comma-decimal default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) === "1,500") // the hazard is live
      assert(Bench.jnum(1.5, 3) === "1.500")
      assert(Bench.jnum(1234.5678, 2) === "1234.57")
      assert(Bench.jnum(-0.25, 3) === "-0.250")
    } finally Locale.setDefault(saved)
  }
}
