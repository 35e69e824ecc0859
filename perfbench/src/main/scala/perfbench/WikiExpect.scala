package perfbench

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

/** Expected `page_title,count` rows for a MediaWiki dump, computed in
  * plain Scala with no Spark and no code shared with the program.
  *
  * The link rules: every non-overlapping `[[...]]` match of the lazy
  * pattern without DOTALL (a newline breaks a link); the target is the
  * whole match up to its first `|`; a target containing any namespace
  * needle as a substring is dropped; `[`, `]` and `,` are stripped and
  * spaces trimmed; empty targets are dropped. A page counts once per
  * target however often it links there, self-links count, and pages
  * with an empty title or text are skipped. Rows sort by the UTF-8
  * bytes of the title. */
object WikiExpect {
  private val Link = Pattern.compile("\\[\\[(.*?)\\]\\]")
  private val Needles = Seq("File:", "Categoria:", "Category:", "Aiuto:", "s:",
    "Image:", "Immagine:")

  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** (title, text) of every `<page>`, read with StAX. */
  def pages(path: String): Iterator[(String, String)] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    val in = new BufferedInputStream(new FileInputStream(path), 1 << 20)
    val r = f.createXMLStreamReader(in, "UTF-8")
    val out = mutable.ArrayBuffer[(String, String)]()
    var title: String = null
    var text: String = null
    var inRevision = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "page" => title = null; text = null
              case "revision" => inRevision = true
              case "title" if !inRevision => title = r.getElementText
              case "text" if inRevision => text = r.getElementText
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "revision" => inRevision = false
              case "page" => out += ((title, text))
              case _ =>
            }
          case _ =>
        }
      }
    } finally { r.close(); in.close() }
    out.iterator
  }

  def counts(pages: Iterator[(String, String)]): Seq[(String, Long)] = {
    val from = mutable.HashMap[String, mutable.HashSet[String]]()
    for ((title, text) <- pages
         if title != null && title.nonEmpty && text != null && text.nonEmpty) {
      val source = trimSpaces(title)
      val m = Link.matcher(text)
      while (m.find()) {
        val whole = m.group(0)
        val bar = whole.indexOf('|')
        val target = if (bar < 0) whole else whole.substring(0, bar)
        if (!Needles.exists(target.contains)) {
          val clean = trimSpaces(target.replaceAll("[\\[\\],]", ""))
          if (clean.nonEmpty) from.getOrElseUpdate(clean, mutable.HashSet()) += source
        }
      }
    }
    from.toSeq.map { case (t, s) => (t, s.size.toLong) }
      .sortWith((a, b) => compareUtf8(a._1, b._1) < 0)
  }

  def compareUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Rows of a `page_title,count` CSV with a header line. Titles hold
    * no comma (cleanup strips them), so each row splits at its last one. */
  def readCsv(path: String): Seq[(String, Long)] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path), UTF_8)
    require(lines.size > 0 && lines.get(0) == "page_title,count",
      s"$path: missing header")
    (1 until lines.size).map { i =>
      val l = lines.get(i)
      val c = l.lastIndexOf(',')
      (l.substring(0, c), l.substring(c + 1).toLong)
    }
  }

  /** First difference between two row lists, or None when equal. */
  def diff(got: Seq[(String, Long)], want: Seq[(String, Long)]): Option[String] =
    if (got == want) None
    else {
      val i = got.zip(want).indexWhere { case (g, w) => g != w }
      Some(if (i >= 0) s"row $i: got ${got(i)} want ${want(i)}"
           else s"${got.size} rows, want ${want.size}")
    }

  /** Self-test on a hand-written dump whose answer is worked out by hand;
    * exits non-zero on a mismatch. */
  def main(args: Array[String]): Unit = {
    val xml =
      """<mediawiki>
        |<page><title>Alpha</title><revision><text>[[Beta]] [[Beta]] [[Gamma|g]]
        |[[Alpha]] [[File:x.png]] [[Genesis: storia]] [[Delta
        |Epsilon]] [[Zeta, Eta]] [[ , ]] [[[Beta]]</text></revision></page>
        |<page><title> Beta </title><revision><text>[[Gamma]] [[Città]] [[Über]] [[Vedi Categoria:X]]</text></revision></page>
        |<page><title>Gamma</title><revision><text></text></revision></page>
        |<page><title>Delta</title><revision><text>[[Città|c]] [[Zürich]] [[Zeta Eta]] [[Beta]]</text></revision></page>
        |</mediawiki>""".stripMargin
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(args.headOption.getOrElse(".")), "wikiexpect", ".xml")
    try {
      java.nio.file.Files.writeString(f, xml, UTF_8)
      val got = counts(pages(f.toString))
      // Beta: Alpha (twice, plus "[[[Beta]]"), Delta. Gamma: Alpha (piped),
      // Beta. Alpha: self-link. "Zeta Eta": Alpha ("Zeta, Eta" loses its
      // comma) and Delta. "Delta\nEpsilon" spans a newline and never
      // matches; File:, "s:" and Categoria: targets are dropped; "[[ , ]]"
      // is empty after cleanup. Byte order puts "Città" before "Zeta Eta"
      // and "Zürich" and "Über" (0xC3 0x9C) last.
      val want = Seq(("Alpha", 1L), ("Beta", 2L), ("Città", 2L), ("Gamma", 2L),
        ("Zeta Eta", 2L), ("Zürich", 1L), ("Über", 1L))
      diff(got, want) match {
        case None => println("wikiexpect self-test: ok")
        case Some(d) =>
          System.err.println(s"wikiexpect self-test failed: $d\n got: $got")
          sys.exit(1)
      }
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
