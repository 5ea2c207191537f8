package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

/** Deterministic binary-document corpus for the DRIVER-CHECKED ingest
  * gate (q_binary_ingest): a handful of tiny generated PDFs (across the
  * filter surface — plain, Flate, an ASCII85+Flate chain, ASCIIHex,
  * RunLength), one DOCX with header/footer parts, and one TXT, written
  * once to a process-temp directory. [[expected]] is the single source
  * of truth: the writers construct files whose `BinaryText.extract`
  * output equals those strings exactly, and the DuckDB oracle recomputes
  * (n_chars, md5) from the SAME strings — so the full
  * binaryFile-scan → filter-chain → text path is verified end-to-end by
  * the correctness gate, not just by unit specs.
  *
  * Reference analogue: the PDF/DOCX/TXT upload loaders at
  * `/root/reference/utils.py:11-19`.
  */
object SampleCorpus {

  /** (file name → exact text `Sources.loadDocuments` must produce). */
  val expected: Seq[(String, String)] = Seq(
    "chain85.pdf" -> "Chained epsilon\nsecond chained line",
    "flate.pdf" -> "Compressed gamma\ndelta row",
    "hex.pdf" -> "Hex zeta body",
    "notes.txt" -> "plain text notes\nsecond line",
    "plain.pdf" -> "Plain alpha\nPlain beta",
    "report.docx" -> "Memo header\nQuarterly report\nAll metrics nominal\nPage footer",
    "rle.pdf" -> "Runlength eta text",
    // incrementally-updated PDF: the file ALSO contains a superseded
    // generation of the same object (text "Original figures\nrevision
    // one") that an xref-following extract must not surface
    "updated.pdf" -> "Amended figures\nrevision two",
  )

  /** Write the corpus (idempotent, process-temp, cross-process-atomic
    * via [[graft.Artifacts.publish]]) and return its dir.
    */
  def ensure(): String = synchronized {
    val target = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_sample_corpus_v1")
    graft.Artifacts.publish(target) { dir =>
      val texts = expected.toMap
      def pdfLines(name: String): Array[Byte] = {
        val ops = texts(name).split("\n")
          .map(l => s"($l) Tj").mkString("BT ", " T* ", " ET")
        ops.getBytes(ISO_8859_1)
      }
      write(dir, "plain.pdf", pdfAround(pdfLines("plain.pdf")))
      write(dir, "flate.pdf",
        pdfAround(deflate(pdfLines("flate.pdf")), " /Filter /FlateDecode"))
      write(dir, "chain85.pdf",
        pdfAround(ascii85(deflate(pdfLines("chain85.pdf"))),
          " /Filter [/ASCII85Decode /FlateDecode]"))
      write(dir, "hex.pdf",
        pdfAround(asciiHex(pdfLines("hex.pdf")), " /Filter /ASCIIHexDecode"))
      write(dir, "rle.pdf",
        pdfAround(rle(pdfLines("rle.pdf")), " /Filter /RunLengthDecode"))
      write(dir, "report.docx", docx())
      write(dir, "notes.txt", texts("notes.txt").getBytes(ISO_8859_1))
      write(dir, "updated.pdf",
        pdfIncremental("Original figures\nrevision one", texts("updated.pdf")))
    }
  }

  private def write(dir: java.nio.file.Path, name: String, bytes: Array[Byte]): Unit =
    java.nio.file.Files.write(dir.resolve(name), bytes)

  private def pdfAround(stream: Array[Byte], dictExtra: String = ""): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write(s"%PDF-1.4\n1 0 obj << /Length ${stream.length}$dictExtra >>\nstream\n"
      .getBytes(ISO_8859_1))
    bos.write(stream)
    bos.write("\nendstream\nendobj\n%%EOF\n".getBytes(ISO_8859_1))
    bos.toByteArray
  }

  /** Incremental-update shape (PDF 32000-1 §7.5.6): object 1 appears
    * twice — the superseded generation shows `staleText`, the appended
    * one `liveText` — and the classic xref table at `startxref` lists
    * only the second, so extraction must follow the chain
    * (BinaryText.xrefLive) to yield only the live revision.
    */
  private def pdfIncremental(staleText: String, liveText: String): Array[Byte] = {
    def obj(content: String): String = {
      val ops = content.split("\n").map(l => s"($l) Tj").mkString("BT ", " T* ", " ET")
      s"1 0 obj << /Length ${ops.length} >>\nstream\n$ops\nendstream\nendobj\n"
    }
    val header = "%PDF-1.4\n"
    val a = obj(staleText)
    val b = obj(liveText)
    val liveOff = header.length + a.length
    val xrefOff = liveOff + b.length
    val xref = f"xref\n0 2\n0000000000 65535 f \n$liveOff%010d 00000 n \n" +
      s"trailer\n<< /Size 2 >>\nstartxref\n$xrefOff\n%%EOF\n"
    (header + a + b + xref).getBytes(ISO_8859_1)
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](8192)
    val bos = new ByteArrayOutputStream()
    while (!d.finished()) { val n = d.deflate(buf); bos.write(buf, 0, n) }
    d.end(); bos.toByteArray
  }

  private def ascii85(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0
    while (i < data.length) {
      val n = math.min(4, data.length - i)
      var v = 0L
      for (k <- 0 until 4)
        v = (v << 8) | (if (i + k < data.length) data(i + k) & 0xffL else 0L)
      val digits = new Array[Char](5)
      for (k <- 4 to 0 by -1) { digits(k) = ('!' + (v % 85).toInt).toChar; v /= 85 }
      sb.appendAll(digits, 0, n + 1)
      i += n
    }
    (sb.toString + "~>").getBytes(ISO_8859_1)
  }

  private def asciiHex(data: Array[Byte]): Array[Byte] =
    (data.map(b => f"${b & 0xff}%02X").mkString + ">").getBytes(ISO_8859_1)

  private def rle(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    data.grouped(128).foreach { c => bos.write(c.length - 1); bos.write(c) }
    bos.write(128); bos.toByteArray
  }

  private def docx(): Array[Byte] = {
    def p(t: String) = s"<w:p><w:r><w:t>$t</w:t></w:r></w:p>"
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def part(name: String, xml: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(xml.getBytes("UTF-8")); zos.closeEntry()
    }
    part("[Content_Types].xml", "<Types/>")
    part("word/header1.xml", s"<w:hdr>${p("Memo header")}</w:hdr>")
    part("word/document.xml",
      s"<w:document><w:body>${p("Quarterly report")}${p("All metrics nominal")}</w:body></w:document>")
    part("word/footer1.xml", s"<w:ftr>${p("Page footer")}</w:ftr>")
    zos.close()
    bos.toByteArray
  }
}
