package graft.spark

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dictionaries

/** The dictionary module's id order must be the order Spark sorts strings
  * in, or the driver and distributed modes number values differently. */
class DictionariesSpec extends AnyFunSuite {

  test("ValueOrder is UTF-8 byte order") {
    def utf8(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    val values = ClpPipelineSpec.NonAscii ++ Seq("", "a", "ab", "b")
    for (a <- values; b <- values)
      assert(Integer.signum(Dictionaries.ValueOrder.compare(a, b)) == Integer.signum(utf8(a, b)),
        s"'$a' vs '$b'")
  }
}
