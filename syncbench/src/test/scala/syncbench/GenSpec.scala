package syncbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val spec = new CdcStateMonitored().logSpec(640)

  private def bytes(seed: Long): (Array[Byte], Gen.Log) = {
    val dir = Files.createTempDirectory("syncbench_gen_")
    try {
      val log = Gen.writeLog(dir.resolve("staged.binlog"), spec, seed)
      (Files.readAllBytes(log.staged), log)
    } finally Gen.deleteTree(dir)
  }

  test("the same seed gives a byte-identical log, another seed another log") {
    val (a, la) = bytes(7)
    val (b, _) = bytes(7)
    val (c, _) = bytes(8)
    assert(java.util.Arrays.equals(a, b))
    assert(!java.util.Arrays.equals(a, c))
    assert(la.end == a.length)
  }

  test("transactions tile the log and the truth is the decoded log's last word") {
    val (raw, log) = bytes(3)
    val txns = log.backlog ++ log.paced
    assert(txns.head.start == log.fence)
    txns.zip(txns.tail).foreach { case (x, y) => assert(x.end == y.start) }
    // the program's own decoder, over the whole log: latest change per key
    val decoded = graft.streaming.MysqlBinlog.changeEventsIterator(
      graft.streaming.MysqlBinlog.eventIterator(raw), 1L << 44).toSeq
    assert(decoded.size == txns.map(_.events).sum)
    val last = decoded.groupBy(_.key).map { case (k, es) => k -> es.maxBy(_.seq) }
    assert(last.keySet == log.truth.keySet)
    log.truth.foreach { case (k, v) =>
      val e = last(k)
      assert(e.seq == v.seq)
      assert((e.op == "delete") == (v.row == null))
    }
  }

  test("the live log grows by whole transactions from the staged one") {
    val dir = Files.createTempDirectory("syncbench_live_")
    try {
      val log = Gen.writeLog(dir.resolve("staged.binlog"), spec, 5)
      val live = new Gen.LiveLog(log.staged, dir.resolve(Gen.LogName))
      try {
        live.appendTo(log.fence)
        log.backlog.take(3).foreach(t => live.appendTo(t.end))
        assert(Files.size(live.path) == log.backlog(2).end)
        val staged = Files.readAllBytes(log.staged)
        assert(java.util.Arrays.equals(Files.readAllBytes(live.path),
          java.util.Arrays.copyOf(staged, log.backlog(2).end.toInt)))
      } finally live.close()
    } finally Gen.deleteTree(dir)
  }
}
