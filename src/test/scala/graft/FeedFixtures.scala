package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession

/** Test-only writer of the nightly job's feeds, in the shapes the loaders
  * read: `.xlsx` as zip + sheet XML with inline strings and numeric cells
  * (what [[graft.sources.ExcelReader]] parses), the `;`-separated
  * transactions text with decimal commas and a whitespace-padded header
  * and first row, and the `bank.*` tables as parquet. */
object FeedFixtures {
  def tag(day: LocalDate): String =
    f"${day.getDayOfMonth}%02d${day.getMonthValue}%02d${day.getYear}%04d"

  def excelSerial(day: LocalDate): Int =
    ChronoUnit.DAYS.between(LocalDate.of(1899, 12, 30), day).toInt

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** One-sheet workbook. A cell is a String (inline string), an Int
    * (number) or null (no cell); a row of nulls is a blank filler row. */
  def writeXlsx(path: Path, rows: Seq[Seq[Any]]): Unit = {
    def cell(ref: String, v: Any): String = v match {
      case null => ""
      case s: String => s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(s)}</t></is></c>"""
      case n: Int => s"""<c r="$ref"><v>$n</v></c>"""
    }
    val sheet = rows.zipWithIndex.map { case (r, i) =>
      val cells = r.zipWithIndex.map { case (v, j) => cell(s"${('A' + j).toChar}${i + 1}", v) }
      s"""<row r="${i + 1}">${cells.mkString}</row>"""
    }.mkString(
      """<?xml version="1.0" encoding="UTF-8"?><worksheet><sheetData>""",
      "", "</sheetData></worksheet>")
    val zip = new ZipOutputStream(Files.newOutputStream(path))
    try {
      zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      zip.write(sheet.getBytes(UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }

  case class Terminal(id: String, kind: String, city: String, address: String)

  def writeTerminals(dir: Path, day: LocalDate, terms: Seq[Terminal]): Unit = {
    val rows = Seq(Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address")) ++
      terms.map(t => Seq(t.id, t.kind, t.city, t.address)) :+ Seq(null, null, null, null)
    writeXlsx(dir.resolve(s"terminals_${tag(day)}.xlsx"), rows)
  }

  /** Cumulative blacklist: (passport, entry day), with a blank filler row
    * after the first entry. */
  def writeBlacklist(dir: Path, day: LocalDate, entries: Seq[(String, LocalDate)]): Unit = {
    val body = entries.map { case (p, d) => Seq(excelSerial(d), p) }
    val rows = Seq(Seq("date", "passport")) ++ body.take(1) ++ Seq(Seq(null, null)) ++
      body.drop(1)
    writeXlsx(dir.resolve(s"passport_blacklist_${tag(day)}.xlsx"), rows)
  }

  /** A transaction: id, "yyyy-MM-dd HH:mm:ss", amount in cents, card,
    * operation type, result, terminal. */
  case class Tx(id: String, ts: String, cents: Long, card: String, op: String,
                result: String, terminal: String)

  def writeTransactions(dir: Path, day: LocalDate, txs: Seq[Tx]): Unit = {
    val header = "  transaction_id ; transaction_date ; amount ; card_num ; oper_type ; " +
      "oper_result ; terminal  "
    val lines = txs.zipWithIndex.map { case (t, i) =>
      val fields = Seq(t.id, t.ts, f"${t.cents / 100}%d,${t.cents % 100}%02d", t.card, t.op,
        t.result, t.terminal)
      if (i == 0) " " + fields.map(f => s" $f ").mkString("; ") else fields.mkString(";")
    }
    Files.write(dir.resolve(s"transactions_${tag(day)}.txt"),
      (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  case class Client(id: String, passport: String, passportValidTo: LocalDate, phone: String)

  /** `bank.*` as parquet: one account and one card per client, each
    * account valid until `accountValidTo(client)`. */
  def writeBank(spark: SparkSession, dir: Path, clients: Seq[Client],
                accountValidTo: String => LocalDate): Unit = {
    import spark.implicits._
    clients.map(c => (c.id, s"Фамилия${c.id}", s"Имя${c.id}", s"Отчество${c.id}",
        c.passport, java.sql.Date.valueOf(c.passportValidTo), c.phone))
      .toDF("client_id", "last_name", "first_name", "patronymic", "passport_num",
        "passport_valid_to", "phone")
      .write.parquet(dir.resolve("clients.parquet").toString)
    clients.map(c => (s"ACC${c.id}", java.sql.Date.valueOf(accountValidTo(c.id)), c.id))
      .toDF("account", "valid_to", "client")
      .write.parquet(dir.resolve("accounts.parquet").toString)
    clients.map(c => (cardOf(c.id), s"ACC${c.id}"))
      .toDF("card_num", "account")
      .write.parquet(dir.resolve("cards.parquet").toString)
  }

  def cardOf(clientId: String): String = s"4000 0000 0000 ${clientId.takeRight(4)}"
}
