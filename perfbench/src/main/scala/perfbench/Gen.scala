package perfbench

import graft.schema.TableMeta
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every input the library sees is written here
  * from the seed alone, and the generator records what a correct run
  * must produce: the exact valid/invalid split, a digest of the valid
  * keys, and the ids of planted duplicates. */
object Gen {

  /** Order-independent digest of a key set: count, sum and a mixed sum
    * that a dropped-and-duplicated key pair cannot cancel out. The same
    * digest is computed in SQL by [[KeyDigest.sql]]. */
  final case class KeyDigest(count: Long, sum: Long, mixed: Long) {
    def add(k: Long): KeyDigest = KeyDigest(count + 1, sum + k, mixed + KeyDigest.mix(k))
  }
  object KeyDigest {
    val empty: KeyDigest = KeyDigest(0, 0, 0)
    def mix(k: Long): Long = Math.floorMod(k * 2654435761L, 1000000007L)
    def sql(c: String): String =
      s"count($c), coalesce(sum($c), 0), coalesce(sum(pmod($c * 2654435761, 1000000007)), 0)"
  }

  /** The declared schema of the ingested table (orders-shaped). */
  val OrdersMeta: TableMeta = TableMeta.fromMetadata(
    Seq("o_orderkey" -> "int", "o_custkey" -> "int",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "date", "o_orderpriority" -> "string"),
    nonNullableFields = Seq("o_orderkey"))
  val OrderCols: Seq[String] = OrdersMeta.fields.map(_.name)

  private val Statuses = Array("O", "F", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Epoch = java.time.LocalDate.of(1992, 1, 1)
  private val ZipTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  /** One order row as text cells; `defect` is 0 for a clean row, else
    * the single planted defect: 1 null key, 2 bad number, 3 bad date. */
  final case class Order(key: Long, cust: Long, status: String,
      price: String, date: String, prio: String, defect: Int)

  def order(r: SplittableRandom, key: Long, corruptShare: Double): Order = {
    val defect = if (r.nextDouble() < corruptShare) 1 + r.nextInt(3) else 0
    val price = String.format(Locale.ROOT, "%.2f",
      Double.box(900 + r.nextInt(50000000) / 100.0))
    Order(key, 1 + r.nextInt(15000), Statuses(r.nextInt(3)),
      if (defect == 2) price + "x" else price,
      if (defect == 3) "not-a-date" else Epoch.plusDays(r.nextInt(2400)).toString,
      Priorities(r.nextInt(5)), defect)
  }

  def csvLine(o: Order): String =
    Seq(if (o.defect == 1) "" else o.key.toString, o.cust.toString, o.status,
      o.price, o.date, o.prio).mkString(",")

  def jsonLine(o: Order): String = {
    val key = if (o.defect == 1) "null" else o.key.toString
    val price = if (o.defect == 2) "\"" + o.price + "\"" else o.price
    s"""{"o_orderkey":$key,"o_custkey":${o.cust},"o_orderstatus":"${o.status}",""" +
      s""""o_totalprice":$price,"o_orderdate":"${o.date}","o_orderpriority":"${o.prio}"}"""
  }

  /** What a correct ingest of a folder yields. */
  final case class IngestExpect(leafFiles: Int, validRows: Long,
      invalidRows: Long, validKeys: KeyDigest, inputBytes: Long)

  /** One generated data file: name, format and row count. `zipGroup`
    * names the archive the file is packed into, if any. */
  final case class FileSpec(name: String, json: Boolean, rows: Int,
      zipGroup: Option[String] = None)

  /** Writes the files into `dir` and returns the expected split. Keys are
    * unique across the folder, so the digest pins every valid row. */
  def writeOrders(dir: Path, seed: Long, files: Seq[FileSpec],
      corruptShare: Double): IngestExpect = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    var key = 1L + r.nextInt(1000)
    var valid = 0L
    var invalid = 0L
    var digest = KeyDigest.empty
    val zips = scala.collection.mutable.LinkedHashMap
      .empty[String, ArrayBuffer[(String, Array[Byte])]]
    files.foreach { f =>
      val sb = new java.lang.StringBuilder
      if (!f.json) sb.append(OrderCols.mkString(",")).append('\n')
      (0 until f.rows).foreach { _ =>
        val o = order(r, key, corruptShare)
        key += 1 + r.nextInt(3)
        if (o.defect == 0) { valid += 1; digest = digest.add(o.key) }
        else invalid += 1
        sb.append(if (f.json) jsonLine(o) else csvLine(o)).append('\n')
      }
      val bytes = sb.toString.getBytes(UTF_8)
      f.zipGroup match {
        case Some(z) => zips.getOrElseUpdate(z, ArrayBuffer.empty) += f.name -> bytes
        case None => Files.write(dir.resolve(f.name), bytes)
      }
    }
    zips.foreach { case (zipName, members) =>
      val zos = new ZipOutputStream(Files.newOutputStream(dir.resolve(zipName)))
      try members.foreach { case (n, b) =>
        val e = new ZipEntry(n)
        e.setTimeLocal(ZipTime) // entry times would make the bytes differ per run
        zos.putNextEntry(e); zos.write(b); zos.closeEntry()
      } finally zos.close()
    }
    val e = IngestExpect(files.size, valid, invalid, digest, folderBytes(dir))
    writeExpected(dir, "leaf_files" -> e.leafFiles, "valid_rows" -> valid,
      "invalid_rows" -> invalid, "valid_key_count" -> digest.count,
      "valid_key_sum" -> digest.sum, "valid_key_mixed_sum" -> digest.mixed,
      "input_bytes" -> e.inputBytes)
    e
  }

  /** Records what a correct run yields in `<dir>.expected.json`, beside
    * (not inside) the folder the library reads. */
  def writeExpected(dir: Path, fields: (String, Any)*): Unit =
    Files.writeString(dir.resolveSibling(s"${dir.getFileName}.expected.json"),
      Main.json.writeValueAsString(ListMap(fields: _*)))

  def folderBytes(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }

  /** Customer rows for the export join, as CSV text batches. */
  def customerCsv(r: SplittableRandom, from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder("c_custkey,c_name,c_nation,c_acctbal\n")
    (from until to).foreach { k =>
      sb.append(k).append(",Customer#").append(k).append(",N")
        .append(r.nextInt(25)).append(',')
        .append(String.format(Locale.ROOT, "%.2f",
          Double.box(r.nextInt(1100000) / 100.0 - 1000)))
        .append('\n')
    }
    sb.toString
  }

  // ---- documents for curation ----

  private val Vocab: Array[String] = (
    "the be to of and that have with " +
      "spark batch stream table column value filter group query join sort " +
      "window merge scan hash vector order customer data line part row key " +
      "small big fast slow agg index shard token corpus model train eval " +
      "record schema format parquet cluster driver task stage shuffle"
  ).split(" ")
  private val StopCount = 8

  private def text(r: SplittableRandom, words: Int): String = {
    val sb = new java.lang.StringBuilder
    (0 until words).foreach { i =>
      if (i > 0) sb.append(' ')
      // stop words at about their natural-text rate
      sb.append(if (r.nextInt(5) == 0) Vocab(r.nextInt(StopCount))
        else Vocab(StopCount + r.nextInt(Vocab.length - StopCount)))
    }
    sb.toString
  }

  /** The corpus: `originals` random documents of 30-180 words (a share
    * under the quality filter's 50-word floor), plus planted exact
    * copies and near copies (one appended word) under fresh ids, plus a
    * benchmark set drawn from originals for decontamination. */
  final case class Corpus(docs: Seq[(Long, String, String)],
      bench: Seq[String], exactDupIds: Seq[Long], nearDupIds: Seq[Long])

  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  def corpus(seed: Long, originals: Int, exactShare: Double,
      nearShare: Double, benchDocs: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val base = (0 until originals).map { i =>
      (i.toLong, text(r, 30 + r.nextInt(151)), Langs(r.nextInt(Langs.length)))
    }
    val exact = base.filter(_ => r.nextDouble() < exactShare).zipWithIndex
      .map { case ((_, t, l), j) => (1000000L + j, t, l) }
    val near = base.filter(_ => r.nextDouble() < nearShare).zipWithIndex
      .map { case ((_, t, l), j) => (2000000L + j, t + " zz", l) }
    val bench = (0 until benchDocs).map(_ => base(r.nextInt(originals))._2)
    Corpus(base ++ exact ++ near, bench, exact.map(_._1), near.map(_._1))
  }
}
