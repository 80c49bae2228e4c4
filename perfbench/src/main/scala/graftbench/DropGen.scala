package graftbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import graft.ingest.Dialect

/** One staged record as the engine should see it after parsing: the key and
  * the sanitized value of every cell the drop carries for it. An empty value
  * ("") is present but must never clobber the lake.
  */
final case class StagedRow(conv: String, turn: Int, cells: Vector[(String, String)])

/** A rendered drop file plus what the generator meant it to say. The engine
  * only ever sees `bytes`; everything else is the benchmark's expectation.
  */
final case class Drop(
    index: Int,
    fileName: String,
    bytes: Array[Byte],
    dialect: Dialect,
    vertical: Boolean,
    large: Boolean,
    newColumns: Vector[String],
    fields: Vector[String],
    rows: Vector[StagedRow],
    rejectedRows: Int) {
  /** Distinct keys the merge should stage. */
  def stagedKeys: Int = rows.map(r => (r.conv, r.turn)).distinct.size
}

/** Seeded generator of messy CSV drop files against a known lake.
  *
  * The mix is stratified rather than sampled, so every run of a workload sees
  * the same sequence of drop kinds whatever its seed: drop `i` is vertical
  * when `i % 5 == 2`, adds a new column when `i % 7 == 1`, is large when
  * `i % 12 == 4` and carries invalid-key rows when `i % 3 == 1`; the eight
  * (delimiter, quote) dialects rotate in a seeded order. The seed decides
  * everything else. Rows are about 20%
  * inserts (new conversations, some of them copies of existing ones, and new
  * turns of existing ones) and 80% updates of existing turns, skewed toward a
  * seeded set of hot conversations; every even drop also plants a copy of a
  * short existing conversation. Cells carry embedded newlines, the
  * delimiter and the quote character, formula-injection payloads, padding
  * and empty values; horizontal drops repeat some keys; some drops carry rows
  * with an invalid key, which the engine must route to its rejected stream.
  *
  * `base` lists the lake's conversations with their turn counts (turn ids
  * `0 until n`); `textOf` returns an existing turn's text, used to plant
  * duplicate conversations for the dedupe passes.
  */
final class DropGen(seed: Long, base: IndexedSeq[(String, Int)],
                    textOf: (String, Int) => String) {
  import DropGen._

  private val setup = new SplittableRandom(seed)
  private val dialectOrder: Vector[Dialect] = shuffle(Dialects, setup)
  // Seeded hot set, except that the longest conversation always sits at the
  // same middling rank: whether it is hot must not depend on the seed.
  private val hotOrder: Vector[Int] = {
    val longest = base.indices.maxBy(base(_)._2)
    val rest = shuffle(base.indices.filterNot(_ == longest).toVector, setup)
    val at = math.min(LongestRank, rest.size)
    (rest.take(at) :+ longest) ++ rest.drop(at)
  }

  private var nextIndex = 0
  private var nextNewConv = 0
  private val appendedTurns = mutable.Map.empty[String, Int]
  private val evolved = mutable.ArrayBuffer.empty[String]

  def next(): Drop = {
    val i = nextIndex
    nextIndex += 1
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val vertical = i % 5 == 2
    val large = i % 12 == 4
    val dialect = dialectOrder(i % dialectOrder.size)

    val newCols =
      if (i % 7 == 1) { val c = f"attr_$seed%x_$i%d"; evolved += c; Vector(c) }
      else Vector.empty
    val optional = Vector("role" -> 0.6, "tool" -> 0.4) ++
      evolved.filterNot(newCols.contains).map(_ -> 0.3)
    val columns = Vector("conv_id", "turn_idx", "text") ++
      optional.collect { case (c, p) if rng.nextDouble() < p => c } ++ newCols
    val header = Vector("conv_id", "turn_idx") ++ shuffle(columns.drop(2), rng)

    val target =
      if (large) LargeTurns * 9 / 10 + rng.nextInt(LargeTurns / 5 + 1)
      else TypicalTurns / 2 + rng.nextInt(TypicalTurns + 1)
    val keys = (if (i % 2 == 0) plantedCopy(rng) else Vector.empty) ++ pickKeys(rng, target)

    // cells per key, then duplicates (horizontal only) and invalid rows
    val rows = mutable.ArrayBuffer.empty[Vector[(String, String)]]
    keys.foreach { case (conv, turn, copied) =>
      rows += header.map { c =>
        c -> (c match {
          case "conv_id" => pad(conv, rng, 0.1)
          case "turn_idx" =>
            if (rng.nextDouble() < 0.05) f"$turn%03d" else pad(turn.toString, rng, 0.1)
          case "text" => copied.getOrElse(rawText(rng, dialect))
          case "role" => if (rng.nextDouble() < 0.2) "" else Roles(rng.nextInt(Roles.size))
          case "tool" => if (rng.nextDouble() < 0.5) "" else Tools(rng.nextInt(Tools.size))
          case _ => if (rng.nextDouble() < 0.4) "" else s"v${rng.nextInt(1000)}"
        })
      }
    }
    if (!vertical && rows.nonEmpty && rng.nextDouble() < 0.3) {
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        val orig = rows(rng.nextInt(rows.size))
        rows += orig.map { case (c, v) =>
          if (c == "conv_id" || c == "turn_idx") c -> v
          else c -> (if (rng.nextBoolean()) "" else if (c == "text") rawText(rng, dialect) else "dup")
        }
      }
    }
    var rejected = 0
    if (i % 3 == 1) {
      (0 until 1 + rng.nextInt(2)).foreach { k =>
        val bad = if (k % 2 == 0) Map("conv_id" -> "", "turn_idx" -> "3")
          else Map("conv_id" -> "c00000001", "turn_idx" -> s"x${rng.nextInt(99)}")
        rows.insert(rng.nextInt(rows.size + 1),
          header.map(c => c -> bad.getOrElse(c, if (c == "text") "orphan cell" else "")))
        rejected += 1
      }
    }

    // Vertical records may omit keys; both layouts force a few quoted cells
    // holding the delimiter into the detector's sample, so the intended
    // dialect is the only consistent reading of the file.
    val emitted = rows.zipWithIndex.map { case (r, k) =>
      val forced = if (k < 6 && k % 2 == 0) r.map {
        case ("text", v) => "text" -> s"${Vocab(k)}${dialect.delimiter} ${Vocab(k + 1)}"
        case cv => cv
      } else r
      if (vertical) forced.filter { case (c, _) =>
        c == "conv_id" || c == "turn_idx" || rng.nextDouble() >= 0.15 }
      else forced
    }.toVector

    val content = render(emitted, header, dialect, vertical, crlf = rng.nextDouble() < 0.25)
    val staged = emitted.flatMap { r =>
      val m = r.toMap
      val conv = sanitize(m("conv_id"))
      val turn = sanitize(m("turn_idx"))
      if (conv.isEmpty || !turn.forall(_.isDigit) || turn.isEmpty) None
      else Some(StagedRow(conv, turn.toInt, r.collect {
        case (c, v) if c != "conv_id" && c != "turn_idx" => c -> sanitize(v)
      }))
    }
    val fields = if (vertical) emitted.flatMap(_.map(_._1)).distinct else header
    Drop(i, f"drop-$seed%d-$i%05d.csv", content.getBytes(StandardCharsets.UTF_8),
      dialect, vertical, large, newCols, fields, staged, rejected)
  }

  private def newConv(): String = {
    val c = f"n$seed%x-${nextNewConv}%06d"
    nextNewConv += 1
    c
  }

  /** A new conversation copying the text of a short existing one, for the
    * conversation-unit dedupe pass to find.
    */
  private def plantedCopy(rng: SplittableRandom): Vector[(String, Int, Option[String])] = {
    val short = base.filter(_._2 <= 12)
    val (src, n) = short(rng.nextInt(short.size))
    val conv = newConv()
    (0 until n).map(t => (conv, t, Some(textOf(src, t)))).toVector
  }

  /** Keys for about `target` rows: (conv, turn, copied raw text if planted). */
  private def pickKeys(rng: SplittableRandom, target: Int): Vector[(String, Int, Option[String])] = {
    val out = mutable.ArrayBuffer.empty[(String, Int, Option[String])]
    while (out.size < target) {
      val u = rng.nextDouble()
      if (u < 0.08) { // a new conversation
        (0 until 3 + rng.nextInt(10)).foreach(t => out += ((newConv(), t, None)))
      } else if (u < 0.16) { // new turns appended to an existing conversation
        val (conv, _) = base(hotOrder(zipf(rng, base.size)))
        val n = 1 + rng.nextInt(6)
        val first = appendedTurns.getOrElse(conv, AppendedTurnBase)
        appendedTurns(conv) = first + n
        (first until first + n).foreach(t => out += ((conv, t, None)))
      } else { // a run of updates to existing turns
        val (conv, n) = base(hotOrder(zipf(rng, base.size)))
        val len = math.min(n, 1 + rng.nextInt(16))
        val start = rng.nextInt(n - len + 1)
        (start until start + len).foreach(t => out += ((conv, t, None)))
      }
    }
    out.toVector
  }
}

object DropGen {

  val Vocab: Vector[String] = graft.synth.TranscriptSynth.Vocab.toVector
  val Roles: Vector[String] = graft.synth.TranscriptSynth.Roles.toVector
  val Tools: Vector[String] = graft.synth.TranscriptSynth.Tools.toVector
  val Dialects: Vector[Dialect] =
    for (d <- Vector(',', ';', '\t', '|'); q <- Vector('"', '\'')) yield Dialect(d, q)
  val Payloads: Vector[String] = Vector("=SUM(A1)", "+CMD", "-system", "@import")
  /** Mean turns of a typical drop and of a large one. */
  val TypicalTurns = 100
  val LargeTurns = 2000
  /** Hot-set rank of the lake's longest conversation. */
  val LongestRank = 50
  /** Appended turns start here, above every turn id the synthesizer makes. */
  val AppendedTurnBase = 100000

  /** The engine's cell sanitizer, restated: strip ASCII whitespace at both
    * ends, then prefix a formula-leading value with a single quote.
    */
  def sanitize(v: String): String = {
    val t = v.replaceAll("^\\s+|\\s+$", "")
    if (t.nonEmpty && "=+-@".indexOf(t.charAt(0)) >= 0) "'" + t else t
  }

  private def shuffle[A](xs: Vector[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (k <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Skewed rank in [0, n): low ranks (the hot set) dominate. */
  private def zipf(rng: SplittableRandom, n: Int): Int = {
    val u = rng.nextDouble()
    math.min(n - 1, (n * u * u * u).toInt)
  }

  private def pad(v: String, rng: SplittableRandom, p: Double): String =
    if (rng.nextDouble() < p) s"  $v " else v

  private def rawText(rng: SplittableRandom, d: Dialect): String = {
    val words = (0 until 3 + rng.nextInt(10)).map(_ => Vocab(rng.nextInt(Vocab.size)))
    val u = rng.nextDouble()
    if (u < 0.15) ""
    else if (u < 0.23) words.take(2).mkString(" ") + "\n" + words.drop(2).mkString(" ")
    else if (u < 0.31) words.head + s"${d.delimiter} " + words.tail.mkString(" ")
    else if (u < 0.36) s"said ${d.quote}${words.head}${d.quote} " + words.tail.mkString(" ")
    else if (u < 0.41) Payloads(rng.nextInt(Payloads.size)) + " " + words.mkString(" ")
    else if (u < 0.51) "  " + words.mkString(" ") + "  "
    else words.mkString(" ")
  }

  private def quoteCell(v: String, d: Dialect): String = {
    val needs = v.exists(ch => ch == d.delimiter || ch == d.quote || ch == '\n' || ch == '\r')
    if (needs) s"${d.quote}${v.replace(d.quote.toString, s"${d.quote}${d.quote}")}${d.quote}"
    else v
  }

  def render(rows: Vector[Vector[(String, String)]], header: Vector[String],
             d: Dialect, vertical: Boolean, crlf: Boolean): String = {
    val eol = if (crlf) "\r\n" else "\n"
    val sb = new StringBuilder
    if (vertical) rows.foreach(_.foreach { case (k, v) =>
      sb.append(k).append(d.delimiter).append(quoteCell(v, d)).append(eol)
    })
    else {
      sb.append(header.map(h => if (h == "text") " text" else h).mkString(d.delimiter.toString)).append(eol)
      rows.foreach { r =>
        val m = r.toMap
        sb.append(header.map(h => quoteCell(m.getOrElse(h, ""), d)).mkString(d.delimiter.toString)).append(eol)
      }
    }
    sb.toString
  }
}
