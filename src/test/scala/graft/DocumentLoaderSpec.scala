package graft

import graft.sources.DocumentLoader
import org.scalatest.funsuite.AnyFunSuite

class DocumentLoaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): java.io.File =
    TestSpark.tempDir("docs").toFile

  private def writeFile(dir: java.io.File, name: String, content: String): Unit = {
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    w.print(content); w.close()
  }

  test("whole-text directory loader with glob filter and recursion") {
    val dir = tmpDir()
    writeFile(dir, "a.txt", "alpha document")
    writeFile(dir, "b.md", "markdown ignored")
    val sub = new java.io.File(dir, "sub"); sub.mkdir()
    writeFile(sub, "c.txt", "nested document")
    val df = DocumentLoader.loadTextDir(spark, dir.getAbsolutePath)
    val texts = df.collect().map(_.getAs[String]("text")).toSet
    assert(texts === Set("alpha document", "nested document"))
  }

  test("json loader renders records as text") {
    val dir = tmpDir()
    writeFile(dir, "d.json", """{"title":"t1","body":"b1"}""" + "\n" + """{"title":"t2","body":"b2"}""")
    val df = DocumentLoader.loadJsonAsText(spark, dir.getAbsolutePath + "/d.json")
    assert(df.count() === 2)
    assert(df.head().getAs[String]("text").contains("\"title\""))
  }

  test("csv loader renders col=value text, capped rows (day_10 cap)") {
    val dir = tmpDir()
    val rows = (1 to 150).map(i => s"r$i,$i").mkString("\n")
    writeFile(dir, "t.csv", "name,score\n" + rows)
    val df = DocumentLoader.loadCsvAsText(spark, dir.getAbsolutePath + "/t.csv", maxRows = 100)
    assert(df.count() === 100)
    assert(df.head().getAs[String]("text").matches("name=r\\d+, score=\\d+"))
  }

  test("binary loader falls back to printable-ASCII for unknown formats") {
    val dir = tmpDir()
    val bytes = Array[Byte](0, 1, 2) ++ "Hello binary world".getBytes ++ Array[Byte](-1, -2) ++ "tail".getBytes
    java.nio.file.Files.write(new java.io.File(dir, "x.bin").toPath, bytes)
    val df = DocumentLoader.loadBinaryDocs(spark, dir.getAbsolutePath, "*.bin")
    val text = df.head().getAs[String]("text")
    assert(text.contains("Hello binary world"))
    assert(text.contains("tail"))
  }

  // ---- real-format fixtures -------------------------------------------

  /** Minimal VALID single-page PDF with correct xref offsets; the content
    * stream is optionally Flate-compressed (PDF's zlib = java Deflater). */
  private def pdfBytes(content: String, flate: Boolean): Array[Byte] = {
    val contentBytes =
      if (flate) {
        val d = new java.util.zip.Deflater()
        d.setInput(content.getBytes("ISO-8859-1")); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } else content.getBytes("ISO-8859-1")
    val filter = if (flate) " /Filter /FlateDecode" else ""
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val offsets = collection.mutable.ArrayBuffer.empty[Int]
    w("%PDF-1.4\n")
    offsets += out.size(); w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    offsets += out.size(); w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    offsets += out.size(); w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    offsets += out.size()
    w(s"4 0 obj << /Length ${contentBytes.length}$filter >> stream\n")
    out.write(contentBytes)
    w("\nendstream endobj\n")
    offsets += out.size(); w("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    val xref = out.size()
    w("xref\n0 6\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer << /Size 6 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  /** Minimal VALID .docx: zip with content types, package rels, and a
    * word/document.xml holding the given paragraphs. */
  private def docxBytes(paragraphs: Seq[String]): Array[Byte] = {
    val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    val body = paragraphs.map { p =>
      val runs = p.split("\t", -1).map(seg =>
        s"""<w:r><w:t xml:space="preserve">${seg}</w:t></w:r>""")
        .mkString("""<w:r><w:tab/></w:r>""")
      s"<w:p>$runs</w:p>"
    }.mkString
    val doc = s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<w:document xmlns:w="$W"><w:body>$body</w:body></w:document>"""
    val contentTypes = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
      """</Types>"""
    val rels = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
      """</Relationships>"""
    val out = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(out)
    Seq("[Content_Types].xml" -> contentTypes, "_rels/.rels" -> rels,
        "word/document.xml" -> doc).foreach { case (name, text) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(text.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    out.toByteArray
  }

  test("real PDF extraction: uncompressed and FlateDecode content streams") {
    val content = "BT /F1 12 Tf 72 720 Td (Hello from a real PDF) Tj T* (second line) Tj ET"
    val dir = tmpDir()
    java.nio.file.Files.write(new java.io.File(dir, "raw.pdf").toPath,
      pdfBytes(content, flate = false))
    java.nio.file.Files.write(new java.io.File(dir, "flate.pdf").toPath,
      pdfBytes(content, flate = true))
    val df = DocumentLoader.loadBinaryDocs(spark, dir.getAbsolutePath, "*.pdf")
    val byPath = df.collect()
      .map(r => (r.getAs[String]("path"), r.getAs[String]("text"))).toMap
    val expected = "Hello from a real PDF\nsecond line"
    byPath.foreach { case (p, text) => assert(text === expected, p) }
    assert(byPath.size === 2)
  }

  test("real PDF extraction: TJ arrays, escapes, and hex strings") {
    val content = """BT [(Hel) -20 (lo)] TJ (\(parens\) \\ok) Tj <20776F726C64> Tj ET"""
    val dir = tmpDir()
    java.nio.file.Files.write(new java.io.File(dir, "tj.pdf").toPath,
      pdfBytes(content, flate = true))
    val df = DocumentLoader.loadBinaryDocs(spark, dir.getAbsolutePath, "*.pdf")
    assert(df.head().getAs[String]("text") === "Hello(parens) \\ok world")
  }

  test("real DOCX extraction: paragraphs, runs, and tabs byte-for-byte") {
    val dir = tmpDir()
    java.nio.file.Files.write(new java.io.File(dir, "d.docx").toPath,
      docxBytes(Seq("Real DOCX heading", "Body with\ttab")))
    val df = DocumentLoader.loadBinaryDocs(spark, dir.getAbsolutePath, "*.docx")
    assert(df.head().getAs[String]("text") === "Real DOCX heading\nBody with\ttab")
  }

  test("PDF content stream with stray unmatched delimiters still terminates") {
    // a bare ')' (and '{' '}') is a delimiter, so the operator-token scan
    // consumes zero chars — this must advance past it, not spin forever
    val content = "BT (ok) Tj ) } { (fine) Tj ET"
    val text = sources.BinaryText.PdfTextExtractor
      .extract("stray.pdf", pdfBytes(content, flate = false))
    assert(text === "okfine")
  }

  test("malformed binaries degrade to empty text, not exceptions") {
    val dir = tmpDir()
    java.nio.file.Files.write(new java.io.File(dir, "bad.pdf").toPath,
      "not a pdf at all".getBytes)
    java.nio.file.Files.write(new java.io.File(dir, "bad.docx").toPath,
      Array[Byte](1, 2, 3, 4))
    val df = DocumentLoader.loadBinaryDocs(spark, dir.getAbsolutePath, "*.{pdf,docx}")
    val texts = df.collect().map(_.getAs[String]("text"))
    assert(texts.length === 2)
    assert(texts.forall(_ === ""))
  }
}
