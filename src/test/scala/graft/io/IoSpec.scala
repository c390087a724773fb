package graft.io

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

class IoSpec extends AnyFunSuite {

  // Both impls must satisfy the same contract: the orchestration layer
  // (graft.api.Ingest/Export) is store-agnostic by design.
  for ((label, store) <- Seq(
      "LocalStore" -> new LocalStore,
      "HadoopStore" -> new HadoopStore)) {
    test(s"$label: list / open / putOverwrite / delete") {
      val dir = Files.createTempDirectory("store_").toString
      assert(store.list(dir + "_nonexistent").isEmpty)
      assert(store.list(dir).isEmpty)
      store.putOverwrite(dir, "a.txt", _.write("hello".getBytes))
      store.putOverwrite(dir, "a.txt", _.write("world".getBytes)) // overwrite
      store.putOverwrite(dir, "b.txt", _.write("!".getBytes))
      val listed = store.list(dir)
      assert(listed.map(_.name) === Seq("a.txt", "b.txt"))
      assert(listed.head.size === 5L)
      assert(listed.head.modifiedAt > 0L)
      val in = store.open(dir, "a.txt")
      assert(new String(in.readAllBytes()) === "world"); in.close()
      store.delete(dir, "a.txt")
      assert(store.list(dir).map(_.name) === Seq("b.txt"))
    }

    test(s"$label: list hides dot-prefixed in-flight temps") {
      val dir = Files.createTempDirectory("store_hidden_").toString
      store.putOverwrite(dir, "real.csv", _.write("x".getBytes))
      // a stranded spool temp (e.g. writer crashed mid-putOverwrite) must
      // never be selectable by FileSelect patterns like ".*\.csv"
      Files.write(java.nio.file.Paths.get(dir, ".real.csv.deadbeef.tmp"),
        "partial".getBytes)
      assert(store.list(dir).map(_.name) === Seq("real.csv"))
    }
  }

  test("LocalStore.list closes its directory stream (no fd per call)") {
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val dir = Files.createTempDirectory("store_fds_").toString
    val store = new LocalStore
    store.putOverwrite(dir, "a.csv", _.write("x".getBytes))
    val n = 100
    val before = fds.list().length
    (1 to n).foreach(_ => assert(store.list(dir).map(_.name) === Seq("a.csv")))
    assert(fds.list().length - before < n)
  }

  test("FileSelect: re.match anchoring and latest-by-mtime") {
    val items = Seq(
      ObjectStat("sales_2024.csv", 100, 1),
      ObjectStat("old_sales_2023.csv", 300, 1),
      ObjectStat("sales_2025.csv", 200, 1))
    val m = FileSelect.matching(items, "sales_\\d+")
    assert(m.map(_.name).sorted === Seq("sales_2024.csv", "sales_2025.csv"))
    assert(FileSelect.latest(m).map(_.name) === Some("sales_2025.csv"))
  }

  test("Zip: nested extraction; zip-slip rejected") {
    val bytes = {
      val bos = new ByteArrayOutputStream()
      val z = new ZipOutputStream(bos)
      z.putNextEntry(new ZipEntry("a.csv")); z.write("x".getBytes); z.closeEntry()
      z.putNextEntry(new ZipEntry("sub/b.json")); z.write("y".getBytes); z.closeEntry()
      z.close(); bos.toByteArray
    }
    val dest = Files.createTempDirectory("unzip_")
    val files = Zip.extractAll(new java.io.ByteArrayInputStream(bytes), dest)
    assert(files.map(f => dest.relativize(f).toString).sorted === Seq("a.csv", "sub/b.json"))

    val evil = {
      val bos = new ByteArrayOutputStream()
      val z = new ZipOutputStream(bos)
      z.putNextEntry(new ZipEntry("../../evil.sh")); z.write("!".getBytes); z.closeEntry()
      z.close(); bos.toByteArray
    }
    assertThrows[SecurityException] {
      Zip.extractAll(new java.io.ByteArrayInputStream(evil),
        Files.createTempDirectory("unzip2_"))
    }
  }

  test("FormatReader: JSON array document AND json-lines both read fully") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("fr_json_")
    val arr = dir.resolve("arr.json")
    Files.write(arr,
      """[
        | {"id": 1, "name": "a"},
        | {"id": 2, "name": "b"}
        |]""".stripMargin.getBytes)
    val lines = dir.resolve("lines.json")
    Files.write(lines,
      "{\"id\": 1, \"name\": \"a\"}\n{\"id\": 2, \"name\": \"b\"}\n".getBytes)
    for (f <- Seq(arr, lines)) {
      FormatReader.read(spark, f) match {
        case FormatReader.Parsed(df) =>
          assert(df.count() === 2, f) // json-lines under multiLine loses rows
        case other => fail(s"$f: $other")
      }
    }
  }

  test("FormatReader: parquet and orc dispatch to the native typed readers") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("fr_columnar_")
    val src = Seq((1L, "a", 2.5), (2L, "b", -1.0)).toDF("id", "name", "v")
    src.coalesce(1).write.parquet(dir.resolve("p").toString)
    src.coalesce(1).write.orc(dir.resolve("o").toString)
    for (sub <- Seq("p", "o")) {
      val f = Files.list(dir.resolve(sub)).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      FormatReader.read(spark, f) match {
        case FormatReader.Parsed(df) =>
          // schema rides in the file (readers mark everything nullable)
          assert(df.schema.map(f => (f.name, f.dataType)) ===
            src.schema.map(f => (f.name, f.dataType)), f)
          assert(df.orderBy("id").collect().toSeq === src.orderBy("id").collect().toSeq)
        case other => fail(s"$f: $other")
      }
    }
  }

  test("FormatReader: latin-1 CSV ingests byte-correct with an explicit encoding") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("fr_enc_")
    val f = dir.resolve("latin1.csv")
    // café / Müller in ISO-8859-1: 0xE9 and 0xFC are NOT valid UTF-8
    Files.write(f, "id,name\n1,café\n2,Müller\n"
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val explicit = FormatReader.read(spark, f, encoding = Some("ISO-8859-1")) match {
      case FormatReader.Parsed(df) =>
        df.orderBy("id").collect().map(_.getString(1)).toSeq
      case other => fail(s"$other")
    }
    assert(explicit === Seq("café", "Müller"))
    // the UTF-8 default mangles the high bytes — the documented deviation
    val default = FormatReader.read(spark, f) match {
      case FormatReader.Parsed(df) =>
        df.orderBy("id").collect().map(_.getString(1)).toSeq
      case other => fail(s"$other")
    }
    assert(default !== explicit, "UTF-8 default cannot decode latin-1 high bytes")
  }

  test("FormatReader.hasOddQuoteLine: the driver byte scan decides as the " +
      "Spark text probe it replaced") {
    import org.apache.spark.sql.functions.{col, length, regexp_replace}
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("fr_quote_")
    // The probe FormatReader ran before the scan, kept as the reference.
    def sparkProbe(f: java.nio.file.Path): Boolean =
      spark.read.text(f.toString)
        .where((length(col("value")) -
          length(regexp_replace(col("value"), "\"", ""))) % 2 === 1)
        .limit(1).count() > 0
    def bytes(parts: Any*): Array[Byte] = parts.flatMap {
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
      case b: Int => Seq(b.toByte)
    }.toArray
    val E9 = 0xE9 // latin-1 é: not valid UTF-8
    val Bom = Seq(0xEF, 0xBB, 0xBF)
    val cases: Seq[(String, Array[Byte], Boolean)] = Seq(
      ("lf, even quotes", bytes("id,note\n1,\"a\"\n2,b\n"), false),
      ("lf, quoted newline", bytes("id,note\n1,\"a\nb\"\n"), true),
      ("crlf, even quotes", bytes("id,note\r\n1,\"a\"\r\n"), false),
      ("crlf, quoted newline", bytes("id,note\r\n1,\"a\r\nb\"\r\n"), true),
      ("lone cr, even quotes", bytes("id,note\r1,\"a\"\r2,b\r"), false),
      ("lone cr, quoted newline", bytes("id,note\r1,\"a\rb\"\r"), true),
      ("escaped \"\" pair", bytes("id,note\n1,\"say \"\"hi\"\"\"\n"), false),
      ("odd quote on an unterminated last line", bytes("id,note\n1,\"open"), true),
      ("latin-1 bytes, no quotes", bytes("id,name\n1,caf", E9, "\n"), false),
      ("latin-1 bytes, quoted newline",
        bytes("id,name\n1,\"caf", E9, "\nsuite\"\n"), true),
      ("utf-8 bom, even quotes", bytes(Bom ++ Seq("id,note\n1,\"a\"\n"): _*), false),
      ("utf-8 bom, quoted newline", bytes(Bom ++ Seq("id,note\n1,\"a\nb\"\n"): _*), true),
      ("empty file", Array.emptyByteArray, false),
      ("latin-1 lead byte before a quote",
        bytes("id,name\n1,caf", E9, ",\"a\nb\"\n"), true))
    cases.zipWithIndex.foreach { case ((label, body, expected), i) =>
      val f = Files.write(dir.resolve(s"case_$i.csv"), body)
      val scanned = FormatReader.hasOddQuoteLine(f)
      assert(scanned === expected, label)
      assert(scanned === sparkProbe(f), s"$label: scan and Spark probe disagree")
    }
  }

  test("FormatReader.sniffJson: array / lines / columns shapes") {
    val dir = Files.createTempDirectory("fr_sniff_")
    def w(n: String, body: String) = {
      val p = dir.resolve(n); Files.write(p, body.getBytes("UTF-8")); p
    }
    import FormatReader.JsonShape
    assert(FormatReader.sniffJson(w("a.json", " [ {\"x\":1} ] ")) === JsonShape.ArrayDoc)
    assert(FormatReader.sniffJson(w("l.json", "{\"x\":1}\n{\"x\":2}\n")) === JsonShape.Lines)
    // single record, scalar values => lines (pandas would reject it too)
    assert(FormatReader.sniffJson(w("s.json", "{\"x\":1, \"y\":\"a\"}\n")) === JsonShape.Lines)
    // single doc, object values => columns orientation
    assert(FormatReader.sniffJson(w("c.json",
      "{\n \"x\": {\"0\": 1, \"1\": 2},\n \"y\": {\"0\": \"a\", \"1\": \"b\"}\n}\n"))
      === JsonShape.Columns)
    // json-lines of STRUCT records must stay lines (multiple top-level docs)
    assert(FormatReader.sniffJson(w("ls.json",
      "{\"x\": {\"a\": 1}}\n{\"x\": {\"a\": 2}}\n")) === JsonShape.Lines)
    // braces/colons inside strings must not confuse the depth tracking
    assert(FormatReader.sniffJson(w("tricky.json",
      "{\"x\": {\"0\": \"}:{\\\"\", \"1\": \"[\"}}")) === JsonShape.Columns)
  }

  test("FormatReader: column-oriented JSON pivots to rows (pandas columns orient)") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("fr_cols_")
    val f = dir.resolve("cols.json")
    // label 10 tests numeric ordering (not lexical); y is missing label 2
    // (union semantics -> null); z mixes long and double -> widens
    Files.write(f,
      """{
        | "id": {"0": 1, "1": 2, "2": 3, "10": 4},
        | "y":  {"0": "a", "1": "b", "10": "d"},
        | "z":  {"0": 5, "1": 2.5, "2": 7, "10": 8}
        |}""".stripMargin.getBytes("UTF-8"))
    val df = FormatReader.read(spark, f) match {
      case FormatReader.Parsed(d) => d
      case other                  => fail(s"$other")
    }
    assert(df.columns.toSeq === Seq("id", "y", "z"))
    val rows = df.collect().map(r =>
      (r.getAs[Long]("id"), r.getAs[String]("y"), r.getAs[Double]("z")))
    assert(rows.toSeq === Seq(
      (1L, "a", 5.0), (2L, "b", 2.5), (3L, null, 7.0), (4L, "d", 8.0)))
  }

  test("Xlsx: write -> read roundtrip with types, escapes, nulls") {
    val f = Files.createTempFile("x", ".xlsx")
    val out = Files.newOutputStream(f)
    Xlsx.write(out, "data", Seq("name", "qty", "price", "flag"),
      Iterator(
        Seq("a<b&c\"d", 42L, 1.5, true),
        Seq("Ünïcødé ok", null, -0.25, false),
        Seq(null, 7, 99.0, null)))
    out.close()
    val rows = Xlsx.read(f, Some("data"), 0)
    assert(rows.head === Seq(Some("name"), Some("qty"), Some("price"), Some("flag")))
    assert(rows(1) === Seq(Some("a<b&c\"d"), Some("42"), Some("1.5"), Some("True")))
    assert(rows(2)(0) === Some("Ünïcødé ok") && rows(2)(1) === None)
    assert(rows(3) === Seq(None, Some("7"), Some("99.0"), None))
  }

  test("Xlsx: date-styled numeric cells surface as datetime strings (1900 system)") {
    // Handcrafted workbook: styles.xml declares cellXf 1 with builtin
    // date numFmtId 14 and cellXf 2 with a custom date code; the sheet
    // stores raw serials. An Excel-authored file looks exactly like this.
    val f = Files.createTempFile("xd", ".xlsx")
    val z = new ZipOutputStream(Files.newOutputStream(f))
    def part(n: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(n)); z.write(body.getBytes("UTF-8")); z.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin)
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="d" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/></numFmts>
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/></cellXfs>
        |</styleSheet>""".stripMargin)
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row><c r="A1" s="1"><v>45356</v></c><c r="B1" s="2"><v>45356.51039351852</v></c><c r="C1"><v>45356</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.finish(); z.close()
    val rows = Xlsx.read(f, None, 0)
    // 45356 = 2024-03-05; builtin and custom date styles convert,
    // unstyled numeric stays a raw serial
    assert(rows.head(0) === Some("2024-03-05 00:00:00"))
    assert(rows.head(1) === Some("2024-03-05 12:14:58"))
    assert(rows.head(2) === Some("45356"))
  }

  test("Xlsx: workbookPr date1904 shifts the serial epoch (Mac system)") {
    // Same handcrafted workbook as the 1900 test but with
    // <workbookPr date1904="1"/>: serial 45356 must land 1462 days later
    // (2028-03-06, not 2024-03-05) — a reader ignoring the flag silently
    // mis-dates every Mac-authored file by four years.
    val f = Files.createTempFile("xd1904", ".xlsx")
    val z = new ZipOutputStream(Files.newOutputStream(f))
    def part(n: String, body: String): Unit = {
      z.putNextEntry(new ZipEntry(n)); z.write(body.getBytes("UTF-8")); z.closeEntry()
    }
    part("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
        |</Types>""".stripMargin)
    part("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<workbookPr date1904="1"/>
        |<sheets><sheet name="d" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin)
    part("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs>
        |</styleSheet>""".stripMargin)
    part("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row><c r="A1" s="1"><v>45356</v></c><c r="B1" s="1"><v>45356.51039351852</v></c><c r="C1"><v>45356</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    z.finish(); z.close()
    val rows = Xlsx.read(f, None, 0)
    assert(rows.head(0) === Some("2028-03-06 00:00:00"))
    assert(rows.head(1) === Some("2028-03-06 12:14:58"))
    assert(rows.head(2) === Some("45356")) // unstyled numeric untouched
  }

  test("Xlsx: readAllSheets returns every sheet; FormatReader allSheets " +
      "unions drifting headers by name with a _sheet provenance column") {
    val f = Files.createTempFile("xall", ".xlsx")
    val out = Files.newOutputStream(f)
    // second sheet's header drifts: drops qty, adds note
    Xlsx.writeSheets(out, Seq(
      Xlsx.SheetSource("jan", Seq("id", "qty"),
        () => Iterator(Seq[Any](1, 10), Seq[Any](2, 20))),
      Xlsx.SheetSource("feb", Seq("id", "note"),
        () => Iterator(Seq[Any](3, "x")))))
    out.close()

    val all = Xlsx.readAllSheets(f, 0)
    assert(all.map(_._1) === Seq("jan", "feb"))
    assert(all.head._2.length === 3) // header + 2 rows
    assert(all(1)._2 === Seq(Seq(Some("id"), Some("note")),
      Seq(Some("3"), Some("x"))))

    val spark = graft.TestSpark.spark
    val parsed = FormatReader.read(spark, f, allSheets = true) match {
      case FormatReader.Parsed(df) => df
      case other => fail(s"expected Parsed, got $other")
    }
    assert(parsed.columns.toSeq === Seq("id", "qty", "_sheet", "note"))
    val got = parsed.orderBy("id")
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        r.getAs[String]("_sheet"), Option(r.getAs[String]("note"))))
    assert(got.toSeq === Seq(
      ("1", Some("10"), "jan", None),
      ("2", Some("20"), "jan", None),
      ("3", None, "feb", Some("x"))))
  }

  test("Xlsx: sheet selection by name, skipRows, missing sheet error") {
    val f = Files.createTempFile("x2", ".xlsx")
    val out = Files.newOutputStream(f)
    Xlsx.write(out, "s1", Seq("h"), Iterator(Seq("junk"), Seq("v1")))
    out.close()
    assert(Xlsx.read(f, None, 0).size === 3)     // default = first sheet
    assert(Xlsx.read(f, Some("s1"), 2) === Seq(Seq(Some("v1"))))
    val e = intercept[IllegalArgumentException](Xlsx.read(f, Some("nope"), 0))
    assert(e.getMessage.contains("not found"))
  }

  test("Tar: extracts GNU-tar-authored archives (subdirs, long names), " +
      "round-trips its own writer, rejects slip entries") {
    // Independent-producer check: GNU tar authors the archive, our
    // ustar reader extracts it — no shared code on either side.
    val src = Files.createTempDirectory("graft_tar_src_")
    Files.createDirectories(src.resolve("sub/deeper"))
    Files.writeString(src.resolve("a.csv"), "x,y\n1,2\n")
    Files.writeString(src.resolve("sub/b.txt"), "hello")
    val longName = "sub/deeper/" + ("n" * 120) + ".dat" // >100 bytes: GNU 'L'
    Files.writeString(src.resolve(longName), "long-name payload")
    val tarPath = Files.createTempFile("graft_tar_", ".tar")
    val rc = new ProcessBuilder("tar", "cf", tarPath.toString,
        "-C", src.toString, ".").inheritIO().start().waitFor()
    assert(rc === 0)
    val dest = Files.createTempDirectory("graft_tar_out_")
    val in = Files.newInputStream(tarPath)
    val extracted = try Tar.extractAll(in, dest) finally in.close()
    val byName = extracted.map(p => dest.relativize(p).toString
      .stripPrefix("./") -> Files.readString(p)).toMap
    assert(byName("a.csv") === "x,y\n1,2\n")
    assert(byName("sub/b.txt") === "hello")
    assert(byName(longName) === "long-name payload")

    // writer -> reader round trip
    val bytes = new ByteArrayOutputStream()
    Tar.write(bytes, Seq("one.txt" -> "1".getBytes("UTF-8"),
      "two/three.txt" -> ("z" * 600).getBytes("UTF-8"))) // spans blocks
    val dest2 = Files.createTempDirectory("graft_tar_rt_")
    val rt = Tar.extractAll(
      new java.io.ByteArrayInputStream(bytes.toByteArray), dest2)
    assert(rt.map(p => dest2.relativize(p).toString ->
      Files.readString(p)).toMap ===
      Map("one.txt" -> "1", "two/three.txt" -> ("z" * 600)))
    // our writer's output must also satisfy GNU tar
    val rtPath = Files.createTempFile("graft_tar_rt_", ".tar")
    Files.write(rtPath, bytes.toByteArray)
    assert(new ProcessBuilder("tar", "tf", rtPath.toString)
      .inheritIO().start().waitFor() === 0)

    // slip guard: hand-built header with an escaping name
    val evil = new ByteArrayOutputStream()
    Tar.write(evil, Seq("ok.txt" -> "x".getBytes("UTF-8")))
    val raw = evil.toByteArray
    System.arraycopy("../escape".getBytes("UTF-8"), 0, raw, 0, 9)
    java.util.Arrays.fill(raw, 9, 100, 0.toByte)
    // checksum must be re-stamped after renaming or the header is junk
    java.util.Arrays.fill(raw, 148, 156, ' '.toByte)
    val sum = (0 until 512).map(i => raw(i) & 0xff).sum
    System.arraycopy(f"${sum}%06o".getBytes("US-ASCII"), 0, raw, 148, 6)
    raw(154) = 0; raw(155) = ' '
    val e = intercept[SecurityException](Tar.extractAll(
      new java.io.ByteArrayInputStream(raw),
      Files.createTempDirectory("graft_tar_evil_")))
    assert(e.getMessage.contains("escapes"))
  }

  test("Xlsx: colIndex decodes multi-letter refs") {
    assert(Xlsx.colIndex("A1") === 0)
    assert(Xlsx.colIndex("Z9") === 25)
    assert(Xlsx.colIndex("AA12") === 26)
    assert(Xlsx.colIndex("BC7") === 54)
  }

  test("FormatReader.fromFwf: boundary inference, short lines and blank " +
      "fields read NULL, values with inner spaces survive") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("graft_fwf_")
    val f = dir.resolve("t.fwf")
    // col widths: id (0-3), full name (5-18, holds a space), qty (20-22).
    // Row 3 is short (no qty); row 4 has a blank name field.
    val text =
      "id   full_name      qty\n" +
      "1    Ada Lovelace   10\n" +
      "22   Grace Hopper   7\n" +
      "333  Alan Turing\n" +
      "4                   55\n"
    Files.write(f, text.getBytes("UTF-8"))
    val df = FormatReader.fromFwf(spark, f)
    assert(df.columns.toSeq === Seq("id", "full_name", "qty"))
    val got = df.collect().map(r =>
      (r.getString(0), Option(r.getString(1)).orNull,
        Option(r.getString(2)).orNull))
    assert(got.toSeq === Seq(
      ("1", "Ada Lovelace", "10"),
      ("22", "Grace Hopper", "7"),
      ("333", "Alan Turing", null),
      ("4", null, "55")))
  }

  test("FormatReader.fromFwf: a post-sample line breaking the inferred " +
      "layout raises instead of silently truncating") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("graft_fwf3_")
    val f = dir.resolve("bad.fwf")
    // inferLines=3 sees only header + first two rows; the third row's
    // name value overruns into the inferred id/name separator column.
    val text =
      "id   name\n" +
      "1    ada\n" +
      "22   bob\n" +
      "33333overrun\n"
    Files.write(f, text.getBytes("UTF-8"))
    val df = FormatReader.fromFwf(spark, f, inferLines = 3)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage != null && e.getMessage.contains("fwf") ||
      Option(e.getCause).exists(_.getMessage.contains("fwf")))
    // widening the sample to cover the wide row re-infers and parses
    val all = FormatReader.fromFwf(spark, f, inferLines = 100)
    assert(all.count() === 3)
  }

  test("FormatReader: .fwf dispatches through read(), empty file rejected") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("graft_fwf2_")
    val f = dir.resolve("x.fwf")
    Files.write(f, "a  b\n1  2\n".getBytes("UTF-8"))
    FormatReader.read(spark, f) match {
      case FormatReader.Parsed(df) =>
        assert(df.columns.toSeq === Seq("a", "b"))
        assert(df.count() === 1)
      case other => fail(s"expected Parsed, got $other")
    }
    val empty = dir.resolve("e.fwf")
    Files.write(empty, Array.emptyByteArray)
    intercept[IllegalArgumentException](FormatReader.fromFwf(spark, empty))
  }

  test("Warc.parseSegment: header parse, byte-exact cut, malformed drop") {
    val rec = Warc.writeRecord("response", "<urn:doc:7>",
      "http://corpus.example.com/doc/7", "2024-01-01T00:00:00Z",
      "HTTP/1.1 200 OK\r\n\r\nhello")
    // a file-leading segment keeps its own magic; parse strips it
    val r = Warc.parseSegment(rec.stripSuffix("\r\n\r\n")).get
    assert(r.warc_type === "response" && r.record_id === "<urn:doc:7>")
    assert(r.content_length === 24L && r.payload === "HTTP/1.1 200 OK\r\n\r\nhello")
    // Content-Length counts BYTES: 2-byte é must not shift the cut
    val multi = Warc.parseSegment(
      Warc.writeRecord("conversion", "<urn:x>", "", "2024-01-01T00:00:00Z",
        "café").stripSuffix("\r\n\r\n")).get
    assert(multi.content_length === 5L && multi.payload === "café")
    // trailing record terminator falls away via the declared cut
    val term = Warc.parseSegment(Warc.writeRecord("metadata", "<urn:y>", "",
      "2024-01-01T00:00:00Z", "abc")).get
    assert(term.payload === "abc")
    // malformed: no header/payload split, no warc-type, junk
    assert(Warc.parseSegment("no separator here") === None)
    assert(Warc.parseSegment("X-Other: 1\r\n\r\npayload") === None)
    assert(Warc.parseSegment("") === None)
  }

  test("Warc.read: distributed record split across a multi-record file") {
    val spark = graft.TestSpark.spark
    val dir = Files.createTempDirectory("warc_")
    val body = (i: Int) => s"HTTP/1.1 200 OK\r\nX: y\r\n\r\nbody number $i"
    val content = Warc.writeRecord("warcinfo", "<urn:info>", "",
        "2024-01-01T00:00:00Z", "software: test\r\n") +
      (1 to 25).map(i => Warc.writeRecord("response", s"<urn:doc:$i>",
        s"http://h/doc/$i", "2024-01-01T00:00:00Z", body(i))).mkString
    Files.write(dir.resolve("a.warc"), content.getBytes("UTF-8"))
    val df = Warc.read(spark, dir.toString + "/*.warc")
    assert(df.count() === 26)
    val resp = Warc.httpParts(
      df.where(org.apache.spark.sql.functions.col("warc_type") === "response"))
    import org.apache.spark.sql.functions._
    val got = resp.select("record_id", "http_status", "http_body")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got === (1 to 25).map(i =>
      (s"<urn:doc:$i>", 200, s"body number $i")).toSet)
  }

  test("Avro.read: multi-block containers, nullable unions, bytes and arrays " +
      "round-trip; unsupported types rejected with the path named") {
    val spark = graft.TestSpark.spark
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.generic.{GenericRecord, GenericRecordBuilder}
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro_spec_")
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id")
      .optionalString("s") // union[null, string]
      .requiredBytes("b")
      .name("xs").`type`().array().items().longType().noDefault()
      .endRecord()
    def rec(i: Long): GenericRecord =
      new GenericRecordBuilder(schema)
        .set("id", i)
        .set("s", if (i % 3 == 0) null else s"v$i" * 40) // pad past one block
        .set("b", java.nio.ByteBuffer.wrap(Array[Byte](i.toByte, (i + 1).toByte)))
        .set("xs", java.util.Arrays.asList(Long.box(i), Long.box(i * 2)))
        .build()
    // Enough records to span several sync blocks in one container, plus a
    // second container to exercise the multi-file glob.
    graft.io.Avro.writeContainer(tmp.resolve("a.avro"), schema,
      (0L until 3000L).iterator.map(rec))
    graft.io.Avro.writeContainer(tmp.resolve("b.avro"), schema,
      (3000L until 3100L).iterator.map(rec))
    // A stray non-avro sidecar in the directory must not reach the
    // input format: the split enumeration covers the same filtered
    // .avro set the schema probe used (directory-path read below).
    java.nio.file.Files.write(tmp.resolve("schema.json"),
      "{\"not\":\"avro\"}".getBytes)
    assert(graft.io.Avro.read(spark, tmp.toString).count() === 3100)
    val df = graft.io.Avro.read(spark, tmp.toString + "/*.avro")
    assert(df.schema.fieldNames.toSeq === Seq("id", "s", "b", "xs"))
    assert(df.schema("s").nullable)
    assert(df.count() === 3100)
    val r7 = df.where(org.apache.spark.sql.functions.col("id") === 7).head()
    assert(r7.getString(1) === "v7" * 40)
    assert(r7.getAs[Array[Byte]](2).toSeq === Seq[Byte](7, 8))
    assert(r7.getSeq[Long](3) === Seq(7L, 14L))
    assert(df.where(org.apache.spark.sql.functions.col("id") % 3 === 0)
      .where(org.apache.spark.sql.functions.col("s").isNotNull).count() === 0)
    // FormatReader dispatch reaches the same reader.
    val viaDispatch = graft.io.FormatReader.read(spark, tmp.resolve("a.avro"))
    assert(viaDispatch.asInstanceOf[graft.io.FormatReader.Parsed]
      .df.count() === 3000)
    // Unsupported: a map-typed field names its path.
    val bad = SchemaBuilder.record("m").fields()
      .name("kv").`type`().map().values().stringType().noDefault()
      .endRecord()
    graft.io.Avro.writeContainer(tmp.resolve("bad.avro"), bad,
      Iterator(new GenericRecordBuilder(bad)
        .set("kv", java.util.Collections.singletonMap("k", "v")).build()))
    val err = intercept[IllegalArgumentException] {
      graft.io.Avro.read(spark, tmp.resolve("bad.avro").toString)
    }
    assert(err.getMessage.contains("m.kv"))
  }

  test("fromJsonLenient: good rows intact, corrupt raw lines quarantined verbatim") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_")
    val lines = Seq(
      """{"id": 1, "v": "a"}""",
      """{"id": 2, "v": """, // truncated mid-object
      """{"id": 3, "v": "c"}""",
      """not json at all""",
      """{"id": 5, "v": "e"}""")
    java.nio.file.Files.write(tmp.resolve("x.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val (good, bad) = graft.io.FormatReader.fromJsonLenient(
      spark, tmp.resolve("x.jsonl").toString, schema)
    assert(good.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      === Array((1L, "a"), (3L, "c"), (5L, "e")))
    // Quarantined lines are the RAW bytes, recoverable for re-parse.
    assert(bad.collect().map(_.getString(0)).sorted
      === Array("""{"id": 2, "v": """, "not json at all").sorted)
    // A schema already claiming _corrupt is rejected loudly.
    intercept[IllegalArgumentException] {
      graft.io.FormatReader.fromJsonLenient(spark,
        tmp.resolve("x.jsonl").toString, schema.add("_corrupt", StringType))
    }
  }

  test("Avro.read: mixed-schema directory resolves against the pinned first " +
      "schema via Avro's own resolution rules") {
    val spark = graft.TestSpark.spark
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.generic.{GenericRecord, GenericRecordBuilder}
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro_mix_")
    val v1 = SchemaBuilder.record("r").fields()
      .requiredLong("id").optionalString("s").endRecord()
    // v2 adds a field: records written with v2 resolve against the
    // pinned v1 reader schema by DROPPING the extra field (the
    // published Avro schema-resolution rule) — never silent drift.
    val v2 = SchemaBuilder.record("r").fields()
      .requiredLong("id").optionalString("s")
      .requiredString("extra").endRecord()
    graft.io.Avro.writeContainer(tmp.resolve("a_v1.avro"), v1,
      (0L until 5L).iterator.map(i =>
        new GenericRecordBuilder(v1).set("id", i).set("s", s"v$i").build()
          : GenericRecord))
    graft.io.Avro.writeContainer(tmp.resolve("b_v2.avro"), v2,
      (5L until 10L).iterator.map(i =>
        new GenericRecordBuilder(v2).set("id", i).set("s", s"v$i")
          .set("extra", "x").build(): GenericRecord))
    val df = graft.io.Avro.read(spark, tmp.toString + "/*.avro")
    assert(df.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(df.count() === 10)
    assert(df.where(org.apache.spark.sql.functions.col("s").isNull)
      .count() === 0)
  }

  test("Avro.writeDistributed: per-partition containers round-trip arrays, " +
      "bytes and nulls; driver never collects") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro_w_")
      .resolve("out").toString
    val df = (0L until 500L).map(i =>
        (i, if (i % 5 == 0) null else s"t$i",
          Seq(i, i * 2), Array[Byte](i.toByte)))
      .toDF("id", "s", "xs", "b")
    graft.io.Avro.writeDistributed(df.repartition(4), tmp)
    // Ignore the local FileSystem's .crc sidecars.
    val files = new java.io.File(tmp).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.length === 4 && files.forall(_.endsWith(".avro")))
    val back = graft.io.Avro.read(spark, tmp + "/*.avro")
    assert(back.count() === 500)
    val r7 = back.where(col("id") === 7).head()
    assert(r7.getString(1) === "t7")
    assert(r7.getSeq[Long](2) === Seq(7L, 14L))
    assert(r7.getAs[Array[Byte]](3).toSeq === Seq[Byte](7))
    assert(back.where(col("id") % 5 === 0)
      .where(col("s").isNotNull).count() === 0)
    // Unsupported Spark type (map) rejected naming the path.
    val err = intercept[IllegalArgumentException] {
      graft.io.Avro.writeDistributed(
        df.withColumn("kv", map(lit("k"), lit("v"))), tmp + "_2")
    }
    assert(err.getMessage.contains("row_kv"))
  }
}
