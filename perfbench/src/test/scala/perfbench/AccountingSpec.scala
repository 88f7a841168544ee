package perfbench

import java.io.ByteArrayInputStream
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: if these are wrong, every reported
  * figure is wrong, so they are pinned without Spark.
  */
class AccountingSpec extends AnyFunSuite {

  test("nearest-rank percentile picks a measured value and reports the sample count") {
    val s = Sample.of(Seq(15.0, 20.0, 35.0, 40.0, 50.0))
    assert(s.n == 5)
    assert(s.pct(5) == 15.0)
    assert(s.pct(30) == 20.0)
    assert(s.pct(40) == 20.0)
    assert(s.median == 35.0)
    assert(s.pct(90) == 50.0) // ceil(4.5) = 5th of 5: a p90 of 5 values is their max
    assert(s.pct(100) == 50.0)
    val ten = Sample.of((1 to 10).map(_.toDouble).reverse)
    assert(ten.median == 5.0 && ten.pct(90) == 9.0 && ten.n == 10)
    assert(Sample.of(Seq(7.0)).pct(90) == 7.0)
    assertThrows[IllegalArgumentException](Sample.of(Nil))
    assertThrows[IllegalArgumentException](s.pct(0))
  }

  test("geometric mean") {
    assert(math.abs(Sample.of(Seq(1.0, 100.0)).geomean - 10.0) < 1e-9)
  }

  private def span(id: Int, parent: Int, start: Long, end: Long): Span = {
    val s = new Span(id, s"s$id", parent, "run", start * 1000000L)
    s.endNs = end * 1000000L
    s
  }

  test("span self time is its wall time minus the union of its children") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30),
      span(2, 0, 20, 50), // overlaps span 1: 10..50 is covered once
      span(3, 0, 90, 120), // clipped to the parent's end
      span(4, 1, 12, 14)) // a grandchild does not count against span 0
    val self = Tracer.selfMs(spans)
    assert(self(0) == 100.0 - 40.0 - 10.0)
    assert(self(1) == 18.0)
    assert(self(2) == 30.0)
    assert(self(4) == 2.0)
  }

  test("fingerprints ignore row order but see duplicates, values and float noise") {
    val a = Seq(Row(1, "x", 2.5), Row(2, "y", null), Row(3, "z", 1.0 / 3))
    assert(Fingerprint.of(a) == Fingerprint.of(a.reverse))
    assert(Fingerprint.of(a).startsWith("3:"))
    assert(Fingerprint.of(a) != Fingerprint.of(a :+ a.head))
    assert(Fingerprint.of(a) != Fingerprint.of(Seq(Row(1, "x", 2.5), Row(2, "y", 0.0),
      Row(3, "z", 1.0 / 3))))
    // partial sums merged in another order differ only in the last bits
    assert(Fingerprint.of(Seq(Row(0.1 + 0.2 + 0.3))) == Fingerprint.of(Seq(Row(0.3 + 0.2 + 0.1))))
    assert(Fingerprint.of(Seq(Row(-0.0))) == Fingerprint.of(Seq(Row(0.0))))
    assert(Fingerprint.of(Seq(Row(Seq(1, 2)))) != Fingerprint.of(Seq(Row(Seq(2, 1)))))
  }

  test("the ClickHouse stub counts the rows of a gzip body and its wire bytes") {
    val csv = (1 to 1000).map(i => s"T-USDT,$i,1.0,2.0,\\N\n").mkString
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(csv.getBytes("UTF-8"))
    gz.close()
    val wire = bos.toByteArray
    val body = ClickHouseStub.readBody(new ByteArrayInputStream(wire), gzip = true)
    assert(body.rows == 1000L)
    assert(body.wireBytes == wire.length.toLong)
    assert(body.rawBytes == csv.length.toLong)
    val plain = ClickHouseStub.readBody(new ByteArrayInputStream("a\nb\n".getBytes), gzip = false)
    assert(plain == ClickHouseStub.Body(2L, 4L, 4L))
  }

  test("per-layer names and units come from BENCHMARK.json, each name once") {
    val spec = Main.perLayer(new java.io.File("../BENCHMARK.json"))
    assert(spec.nonEmpty)
    assert(spec.map(_._1).distinct.size == spec.size)
    assert(spec.forall { case (n, u) => n.nonEmpty && u.nonEmpty })
    assert(spec.toMap.get("trace.op_p50_ms").contains("ms"))
  }
}
