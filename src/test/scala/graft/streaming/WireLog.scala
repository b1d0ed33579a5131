package graft.streaming

import MysqlBinlogWriter.{Col, TableDef, Writer}

/** Test-only live MySQL binlog of one `(k BIGINT, v VARCHAR)` table, as
  * a server appends it: every appended row is its own committed
  * transaction (TABLE_MAP, rows event, XID), flushed so a tail sees it.
  * Updates and deletes log the `binlog_row_image=MINIMAL` before image
  * (the key only). The wire source renders a row's payload as
  * `{"k":1,"v":"a"}`; `valueCol` renames `v`.
  */
final class WireLog(val path: String, table: String = "t",
                    valueCol: String = "v") {
  import WireLog._
  private val td = TableDef(1L, "db", table,
    Seq(Col.bigint("k"), Col.varchar(valueCol, 255)))
  private val w = new Writer(path)
  private var xid = 0L
  w.begin(); w.flush()

  private def img(k: Long, v: String) =
    Array[AnyRef](java.lang.Long.valueOf(k), v)

  /** Append `rows` in order, each committed at server clock `clockSec`
    * (epoch seconds — the change events' `ts`).
    */
  def append(clockSec: Long, rows: Row*): WireLog = {
    w.setClock(clockSec)
    rows.foreach { r =>
      w.tableMap(td)
      r match {
        case Insert(k, v) => w.writeRows(td, Seq(img(k, v)))
        case Update(k, v) => w.updateRows(td, Seq((img(k, null), img(k, v))),
          beforePresent = Some(Set(0)))
        case Delete(k) => w.deleteRows(td, Seq(img(k, null)),
          presentCols = Some(Set(0)))
      }
      xid += 1
      w.xid(xid)
    }
    w.flush()
    this
  }

  def close(): Unit = w.close()
}

object WireLog {
  sealed trait Row
  final case class Insert(k: Long, v: String) extends Row
  final case class Update(k: Long, v: String) extends Row
  final case class Delete(k: Long) extends Row

  /** Run `body` over a fresh log at `path`, closing it after. */
  def using[A](path: String, table: String = "t", valueCol: String = "v")
              (body: WireLog => A): A = {
    val log = new WireLog(path, table, valueCol)
    try body(log) finally log.close()
  }
}
