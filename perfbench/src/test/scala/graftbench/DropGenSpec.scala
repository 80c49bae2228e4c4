package graftbench

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{DialectDetector, Layout}

class DropGenSpec extends AnyFunSuite {

  private val base = (0 until 600).map(i => (f"c$i%08d", 2 + (i * 7919) % 30))
  private def gen(seed: Long) = new DropGen(seed, base, (c, t) => s"turn $t of $c")
  private def drops(seed: Long, n: Int) = { val g = gen(seed); Vector.fill(n)(g.next()) }
  private def text(d: Drop) = new String(d.bytes, StandardCharsets.UTF_8)

  test("the same seed renders byte-identical drops; another seed does not") {
    val a = drops(7, 40)
    val b = drops(7, 40)
    assert(a.map(_.bytes.toSeq) == b.map(_.bytes.toSeq))
    assert(a.map(_.rows) == b.map(_.rows))
    assert(drops(8, 40).map(_.bytes.toSeq) != a.map(_.bytes.toSeq))
  }

  test("the mix is stratified: 1 in 5 vertical, 1 in 7 adds a column, 1 in 12 large") {
    val ds = drops(3, 420)
    assert(ds.count(_.vertical) == 84)
    assert(ds.count(_.newColumns.nonEmpty) == 60)
    assert(ds.count(_.large) == 35)
    assert(ds.map(_.dialect).distinct.size == 8)
  }

  test("a drop_merge pass holds every drop kind, and a traced run, after its warm-up pass, traces each of its drops once") {
    val (warm, pass) = DropMerge.stream(gen(11))
    assert(warm.map(_.index) == (0 until DropMerge.WarmupDrops))
    assert(pass.exists(_.large) && pass.exists(_.vertical) && pass.exists(_.newColumns.nonEmpty) &&
      pass.exists(_.rejectedRows > 0))
    val (traced, untraced) = (DropMerge.PassDrops until 3 * DropMerge.PassDrops)
      .partition(Main.tracedOp(_, DropMerge.PassDrops))
    def drops(ks: Seq[Int]) = ks.map(k => pass(k % DropMerge.PassDrops))
    assert(drops(traced).exists(_.large))
    assert(drops(traced).map(_.index) == pass.map(_.index))
    assert(drops(untraced).map(_.index) == pass.map(_.index))
  }

  test("drops carry the messy cases the ingest path must handle") {
    val ds = drops(5, 60)
    val all = ds.map(text).mkString
    val cells = ds.flatMap(_.rows.flatMap(_.cells.map(_._2)))
    assert(cells.exists(_.contains("\n")), "quoted embedded newline")
    assert(cells.exists(_.startsWith("'=")), "formula-injection payload, escaped")
    assert(cells.contains(""), "empty cells")
    assert(ds.exists(d => d.rows.map(r => (r.conv, r.turn)).distinct.size < d.rows.size), "duplicate keys")
    assert(ds.exists(_.rejectedRows > 0), "rows with an invalid key")
    assert(all.contains("\r\n") && all.contains("\"\""), "CRLF files and doubled quotes")
    val inserts = ds.flatMap(_.rows).count(r => r.conv.startsWith("n") || r.turn >= DropGen.AppendedTurnBase)
    val share = inserts.toDouble / ds.map(_.rows.size).sum
    assert(share > 0.1 && share < 0.35, s"insert share $share")
  }

  test("sanitize restates the engine's cell rule") {
    assert(DropGen.sanitize("  =SUM(A1) x \t") == "'=SUM(A1) x")
    assert(DropGen.sanitize(" plain ") == "plain")
    assert(DropGen.sanitize("a\nb") == "a\nb")
    assert(DropGen.sanitize("   ") == "")
  }

  private def disagreements(ds: Seq[Drop]): Seq[String] = ds.flatMap { d =>
    val s = text(d)
    val dialect = DialectDetector.detect(s)
    val vertical = Layout.isVerticalLayout(s, dialect)
    if (dialect == d.dialect && vertical == d.vertical) None
    else Some(s"${d.fileName} (${s.length} chars): wrote ${d.dialect}/vertical=${d.vertical}, " +
      s"engine decided $dialect/vertical=$vertical")
  }

  private val sample = (1L to 20L).flatMap(drops(_, 40))

  test("DialectDetector and Layout decide what the generator wrote, for drops within the detector's sample") {
    val whole = sample.filter(d => text(d).length <= DialectDetector.SampleSize)
    assert(whole.size > 300)
    assert(disagreements(whole).isEmpty, disagreements(whole).take(5).mkString("\n"))
  }

  // Engine defect: the detector strictly parses a sample cut at 8192 chars;
  // when the cut lands inside a quoted field, the true dialect's parse fails
  // and the other quote character wins. The benchmark counts such a drop as
  // a failed operation. Remove `pendingUntilFixed` once the detector is fixed.
  test("DialectDetector and Layout decide what the generator wrote, for drops longer than the sample") {
    val long = sample.filter(d => text(d).length > DialectDetector.SampleSize)
    assert(long.nonEmpty)
    pendingUntilFixed {
      assert(disagreements(long).isEmpty, disagreements(long).take(5).mkString("\n"))
    }
  }
}
