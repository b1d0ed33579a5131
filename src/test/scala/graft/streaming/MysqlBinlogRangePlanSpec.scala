package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import MysqlBinlogWriter.{Col, TableDef, Writer}

/** [[MysqlBinlogSource.planRanges]]: a micro-batch range cut into
  * contiguous sub-ranges at transaction fences, each decoding
  * standalone to exactly its share of the whole range's ChangeEvents.
  */
class MysqlBinlogRangePlanSpec extends AnyFunSuite {

  private val ta = TableDef(21L, "graft", "a",
    Seq(Col.bigint("k"), Col.varchar("v", 512)))
  private val tb = TableDef(22L, "graft", "b",
    Seq(Col.bigint("k"), Col.varchar("v", 512), Col.int("n")))
  private def imgA(k: Long, v: String) = Array[AnyRef](
    java.lang.Long.valueOf(k), v)
  private def imgB(k: Long, v: String, n: Long) = Array[AnyRef](
    java.lang.Long.valueOf(k), v, java.lang.Long.valueOf(n))

  /** A log mixing single-table, multi-table, zstd-wrapped and MINIMAL
    * transactions; returns (path, positions where a transaction ends).
    */
  private def writeLog(): (String, Set[Long]) = {
    val base = Files.createTempDirectory("graft_binlog_rangeplan_").toString
    val log = s"$base/bin.000003"
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    val w = new Writer(log, serverId = 1L)
    w.setClock(1700000000L); w.begin()
    w.previousGtids(Seq.empty)
    val fences = Set.newBuilder[Long]
    val rng = new scala.util.Random(11L)
    def v(k: Long) = s"v$k-" + rng.alphanumeric.take(100 + rng.nextInt(300)).mkString
    var gno = 0L
    (1 to 300).foreach { i =>
      gno += 1; w.gtid(u, gno)
      val k = i.toLong
      i % 4 match {
        case 0 => // single table, multi-row
          w.tableMap(ta); w.writeRows(ta, Seq(imgA(k, v(k)), imgA(k + 1000, v(k))))
          w.xid(gno)
        case 1 => // multi-table
          w.tableMap(ta); w.writeRows(ta, Seq(imgA(k, v(k))))
          w.tableMap(tb)
          w.updateRows(tb, Seq((imgB(k, "old", 1), imgB(k, v(k), 2))))
          w.xid(gno)
        case 2 => // zstd-wrapped, multi-table
          w.transactionPayload() { inner =>
            inner.tableMap(ta); inner.writeRows(ta, Seq(imgA(k, v(k))))
            inner.tableMap(tb); inner.writeRows(tb, Seq(imgB(k, v(k), 3)))
            inner.xid(gno)
          }
        case 3 => // MINIMAL images: PK-only before, changed-only after
          w.tableMap(ta)
          w.updateRows(ta, Seq((imgA(k - 1, null), imgA(0L, v(k)))),
            beforePresent = Some(Set(0)), afterPresent = Some(Set(1)))
          w.tableMap(tb)
          w.deleteRows(tb, Seq(imgB(k - 2, null, 0)), presentCols = Some(Set(0)))
          w.xid(gno)
      }
      fences += w.position
    }
    w.close()
    (log, fences.result())
  }

  private def decode(r: MysqlBinlogRange): Vector[ChangeEvent] =
    MysqlBinlogSource.rangeEvents(r).toVector

  private def checkPlan(whole: MysqlBinlogRange, fences: Set[Long],
                        parts: Int, minBytes: Long): Int = {
    val plan = MysqlBinlogSource.planRanges(whole, parts, minBytes)
    assert(plan.head.startByte == whole.startByte)
    assert(plan.last.endByte == whole.endByte)
    plan.sliding(2).foreach { case Array(a, b) =>
      assert(a.endByte == b.startByte, "sub-ranges must be contiguous")
      assert(fences.contains(a.endByte),
        s"interior cut ${a.endByte} is not a transaction fence")
    }
    plan.foreach { r =>
      assert(r.startByte < r.endByte)
      assert(r.file == whole.file && r.epoch == whole.epoch)
    }
    val n = math.max(1L, math.min(parts.toLong,
      (whole.endByte - whole.startByte) / minBytes)).toInt
    assert(plan.length <= n)
    assert(plan.toVector.flatMap(decode) == decode(whole),
      "sub-ranges decoded in order must equal the whole range, seq included")
    plan.length
  }

  test("fence-aligned split covers the range and decodes to the same events") {
    val (log, fences) = writeLog()
    val size = Files.size(Paths.get(log))
    val whole = MysqlBinlogRange(log, 4L, size, 3L)
    assert(decode(whole).map(_.table).toSet == Set("a", "b"))
    assert(checkPlan(whole, fences, parts = 4, minBytes = size / 8) == 4)
    assert(checkPlan(whole, fences, parts = 16, minBytes = 4096) == 16)
    // a range that starts and ends at interior fences
    val fs = fences.toVector.sorted
    val mid = MysqlBinlogRange(log, fs(40), fs(250), 3L)
    assert(checkPlan(mid, fences, parts = 3, minBytes = 4096) == 3)
  }

  test("an event-granular range starting mid-transaction still splits " +
      "at fences only") {
    val (log, fences) = writeLog()
    val size = Files.size(Paths.get(log))
    // the first event boundary past fence #10 without txn atomicity:
    // inside a transaction
    val fs = fences.toVector.sorted
    val inside = MysqlBinlogSource.advance(log, fs(10), 1L,
      txnAtomic = false).safe
    assert(inside > fs(10) && !fences.contains(inside))
    assert(checkPlan(MysqlBinlogRange(log, inside, size, 3L), fences,
      parts = 4, minBytes = 8192) == 4)
  }

  test("a range under twice the minimum stays one partition") {
    val (log, fences) = writeLog()
    val size = Files.size(Paths.get(log))
    val whole = MysqlBinlogRange(log, 4L, size, 3L)
    assert(MysqlBinlogSource.planRanges(whole, 8, (size - 4L) / 2 + 1)
      .toSeq == Seq(whole))
    assert(MysqlBinlogSource.planRanges(whole, 1, 1L).toSeq == Seq(whole))
    assert(checkPlan(whole, fences, parts = 8, minBytes = (size - 4L) / 2) == 2)
  }
}
