package graft.changelog

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ChangelogSpec extends AnyFunSuite {

  private def raw(op: Int, vs: Any*): Option[RawRecord] =
    Some(RawRecord(Some(op), vs.toVector))

  test("ops decode wire codes 0-3 to +I/-U/+U/-D") {
    assert(Op.all.map(_.code) == Seq(0, 1, 2, 3))
    assert(Op.all.map(_.label) == Seq("+I", "-U", "+U", "-D"))
    assert(Op.fromCode(4).isEmpty)
  }

  test("update applies insert/update/delete semantics") {
    val t = new ResultTable(Seq("color", "n"))
    t.update(Seq(
      ChangelogRecord(Some(Op.Insert), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateBefore), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateAfter), Vector("brown", 2L)),
      ChangelogRecord(Some(Op.Insert), Vector("blue", 1L))))
    assert(t.rows.toSet == Set(Vector("brown", 2L), Vector("blue", 1L)))
  }

  test("append-only records (op=None) always append") {
    val t = new ResultTable(Seq("a"))
    t.update(Seq(ChangelogRecord(None, Vector(1)), ChangelogRecord(None, Vector(1))))
    assert(t.rows == Seq(Vector(1), Vector(1)))
  }

  test("retracting a missing row is tolerated and counted") {
    val t = new ResultTable(Seq("a"))
    t.update(Seq(ChangelogRecord(Some(Op.Delete), Vector("ghost"))))
    assert(t.size == 0)
    assert(t.missedRetractions == 1)
  }

  test("delete removes only the first value-equal row (multiset)") {
    val t = new ResultTable(Seq("a"))
    t.update(Seq(
      ChangelogRecord(Some(Op.Insert), Vector("x")),
      ChangelogRecord(Some(Op.Insert), Vector("x")),
      ChangelogRecord(Some(Op.Delete), Vector("x"))))
    assert(t.rows == Seq(Vector("x")))
  }

  test("consume validates arity against the schema") {
    val cl = new Changelog(Seq("a", "b"), Iterator(raw(0, 1)))
    val e = intercept[IllegalArgumentException](cl.consume())
    assert(e.getMessage.contains("2 columns but row has 1"))
  }

  test("consume rejects invalid op codes") {
    val cl = new Changelog(Seq("a"), Iterator(raw(7, 1)))
    intercept[IllegalArgumentException](cl.consume())
  }

  test("consume skips heartbeats without counting them toward the limit") {
    val cl = new Changelog(Seq("a"),
      Iterator(None, raw(0, 1), None, raw(0, 2), None))
    val got = cl.consume(2)
    assert(got.map(_.values) == Seq(Vector(1), Vector(2)))
    assert(cl.consume(1).isEmpty) // only heartbeat left
  }

  test("consume is incremental and history is append-only") {
    val cl = new Changelog(Seq("a"), Iterator(raw(0, 1), raw(0, 2), raw(0, 3)))
    assert(cl.consume(1).map(_.values) == Seq(Vector(1)))
    assert(cl.consume(5).map(_.values) == Seq(Vector(2), Vector(3)))
    assert(cl.history.size == 3)
    assert(cl.columns == Seq("op", "a"))
  }

  test("opsReceived tracks the distinct ops seen") {
    val cl = new Changelog(Seq("a"), Iterator(raw(0, 1), raw(1, 1), raw(2, 2)))
    cl.consume()
    assert(cl.opsReceived == Set(Op.Insert, Op.UpdateBefore, Op.UpdateAfter))
  }

  // ResultTable retracts through a value index over tombstoned slots; this
  // reference keeps the plain list it replaced: rows in insertion order, a
  // retraction removes the first value-equal row (a linear search).
  private final class ListTable {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Vector[Any]]
    var missed = 0
    def update(recs: Seq[ChangelogRecord]): Unit = recs.foreach { rec =>
      rec.op match {
        case Some(Op.Insert) | Some(Op.UpdateAfter) | None => buf += rec.values
        case _ =>
          val i = buf.indexOf(rec.values)
          if (i < 0) missed += 1 else buf.remove(i)
      }
    }
  }

  // a small value domain, so duplicates and missing retraction targets
  // both occur; Int 1 and Long 1L are equal values, as in `indexOf`; a
  // case's retraction share decides whether tombstones pile up enough to
  // compact the slots
  test("property: ResultTable equals the list it replaced after every chunk") {
    val genValue: Gen[Vector[Any]] = for {
      k <- Gen.choose(0, 4)
      tag <- Gen.oneOf[Any](null, 1, 1L, "t")
    } yield Vector(k, tag)
    val genCase = for {
      retractShare <- Gen.choose(0, 9)
      records <- Gen.listOf(for {
        retract <- Gen.choose(0, 9).map(_ < retractShare)
        op <- if (retract) Gen.oneOf[Option[Op]](Some(Op.UpdateBefore), Some(Op.Delete))
              else Gen.oneOf[Option[Op]](Some(Op.Insert), Some(Op.UpdateAfter), None)
        v <- genValue
      } yield ChangelogRecord(op, v))
      chunks <- Gen.nonEmptyListOf(Gen.choose(1, 40))
    } yield (records, chunks)

    (0 until 300).foreach { i =>
      val (records, chunks) =
        genCase.pureApply(Gen.Parameters.default.withSize(400), Seed(16L + i))
      val table = new ResultTable(Seq("k", "tag"))
      val ref = new ListTable
      var rest = records
      var j = 0
      while (rest.nonEmpty) {
        val (chunk, tail) = rest.splitAt(chunks(j % chunks.size))
        table.update(chunk)
        ref.update(chunk)
        val where = s"case $i after ${records.size - tail.size} of ${records.size} records"
        assert(table.rows == ref.buf.toSeq, where)
        assert(table.size == ref.buf.size, where)
        assert(table.toMultiset == ref.buf.groupBy(identity).view.mapValues(_.size).toMap, where)
        assert(table.missedRetractions == ref.missed, where)
        rest = tail
        j += 1
      }
    }
  }

  // The reference's documented contract (lib/flink.py:4-20): consuming in
  // chunks and updating incrementally is equivalent to one full collapse.
  test("property: incremental consume+update == collapse, any chunking") {
    val genRec: Gen[Option[RawRecord]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> (for {
        op <- Gen.oneOf(0, 1, 2, 3)
        v <- Gen.choose(0, 5)
      } yield Some(RawRecord(Some(op), Vector(v)))))
    val genCase = for {
      records <- Gen.listOf(genRec)
      chunks <- Gen.nonEmptyListOf(Gen.choose(1, 7))
    } yield (records, chunks)

    (0 until 300).foreach { i =>
      val (records, chunks) =
        genCase.pureApply(Gen.Parameters.default, Seed(42L + i))
      val full = new Changelog(Seq("v"), records.iterator)
      full.consume()
      val expected = full.collapse()

      val inc = new Changelog(Seq("v"), records.iterator)
      val table = new ResultTable(Seq("v"))
      var j = 0
      var done = false
      while (!done) {
        val got = inc.consume(chunks(j % chunks.size))
        if (got.isEmpty) done = true else table.update(got)
        j += 1
      }
      assert(table.toMultiset == expected.toMultiset,
        s"case $i: $records chunked $chunks")
      assert(table.missedRetractions == expected.missedRetractions)
    }
  }
}
