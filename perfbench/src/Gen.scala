package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.SplittableRandom
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of
  * (seed, stream, index): the same arguments give byte-identical inputs
  * in any JVM, and requests are generated lazily so a run of any length
  * sees a prefix of one fixed sequence.
  */
object Gen {

  /** An independent random stream per (seed, stream, index). */
  def rng(seed: Long, stream: Int, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L +
      index * 0x94D049BB133111EBL)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  // ---- resumes -----------------------------------------------------------

  /** Header aliases per canonical section, as the chunker recognises them. */
  val aliases: IndexedSeq[(String, IndexedSeq[String])] = IndexedSeq(
    "summary" -> IndexedSeq("summary", "objective", "about me"),
    "experience" -> IndexedSeq("experience", "work history", "professional experience"),
    "skills" -> IndexedSeq("skills", "technologies", "technical skills"),
    "projects" -> IndexedSeq("projects", "portfolio"),
    "education" -> IndexedSeq("education", "academics"),
    "certifications" -> IndexedSeq("certifications", "qualifications", "achievements", "endorsements"),
    "strengths" -> IndexedSeq("strengths", "capabilities", "abilities", "merits"))

  private val aliasWords = aliases.flatMap(_._2)

  /** Job-description vocabulary: the tokens the stand-in scorer counts. */
  val jdVocab: IndexedSeq[String] = IndexedSeq("kafka", "scala", "python", "airflow",
    "kubernetes", "terraform", "docker", "postgres", "redis", "flink", "hadoop",
    "graphql", "tensorflow", "pandas", "numpy", "spark", "linux", "grafana",
    "jenkins", "golang")

  private val filler: IndexedSeq[String] = IndexedSeq("built", "led", "team", "pipeline",
    "service", "customer", "reduced", "latency", "designed", "migrated", "platform",
    "metrics", "quarterly", "delivered", "mentored", "review", "release", "budget",
    "vendor", "roadmap", "onboarding", "analysis", "reporting", "dashboard", "cloud",
    "cost", "growth", "startup", "retail", "banking", "health", "logistics",
    "university", "bachelor", "master", "degree", "award", "hackathon", "volunteer",
    "open", "source", "library", "contributor", "speaker", "conference", "fluent",
    "english", "spanish", "german", "owned", "scaled", "automated", "tested",
    "shipped", "improved", "partnered", "stakeholders", "weekly", "global")

  // Generated text must contain section headers only where the generator
  // puts them: no vocabulary word may contain an alias, and the counted
  // vocabulary must not collide with the prompt template or the fillers.
  private val templateWords = Set("rate", "each", "resume", "section", "against",
    "the", "job", "description", "from", "0", "to", "10.", "sections:")
  require((jdVocab ++ filler).forall(w => !aliasWords.exists(a => w.contains(a))))
  require(jdVocab.forall(w => !filler.contains(w) && !templateWords.contains(w)))

  /** The job description one run scores every resume against. */
  def jdTokens(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 1)
    val shuffled = mutable.ArrayBuffer(jdVocab: _*)
    for (i <- shuffled.indices.reverse) {
      val j = r.nextInt(i + 1); val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    shuffled.take(12).toIndexedSeq
  }

  final case class Resume(fileName: String, bytes: Array[Byte], expectedScore: Double)

  /** Resume `i`: a preamble, 3–6 sections under varied header aliases and
    * case, sometimes a repeated section (the later copy wins), rendered
    * as PDF, DOCX or TXT. The expected score is the stand-in scorer's
    * answer computed from the generator's own bookkeeping: the distinct
    * job-description tokens in the content each kept section ends with,
    * capped at 10.
    */
  def resume(seed: Long, i: Long): Resume = {
    val r = rng(seed, 2, i)
    val jd = jdTokens(seed).toSet
    def words(n: Int, plantRate: Double): Seq[String] = Seq.fill(n) {
      if (r.nextDouble() < plantRate) pick(r, jdVocab) else pick(r, filler)
    }
    def lines(k: Int): Seq[String] =
      Seq.fill(k)(words(6 + r.nextInt(7), 0.12).mkString(" "))
    def header(canon: Int): String = {
      val a = pick(r, aliases(canon)._2)
      val cased = r.nextInt(3) match {
        case 0 => a
        case 1 => a.toUpperCase
        case _ => a.split(" ").map(_.capitalize).mkString(" ")
      }
      if (r.nextBoolean()) cased + ":" else cased
    }
    val preamble = Seq(words(3, 0.3).mkString(" "), words(4, 0.3).mkString(" "))
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(aliases.indices.toList).take(3 + r.nextInt(4))
    val blocks = mutable.ArrayBuffer[(Int, Seq[String])]()
    order.foreach(c => blocks += ((c, lines(1 + r.nextInt(4)))))
    if (r.nextDouble() < 0.3) {
      val c = pick(r, order.toIndexedSeq)
      blocks += ((c, lines(1 + r.nextInt(3))))
    }
    val kept = blocks.groupBy(_._1).map { case (_, bs) => bs.last._2 }
    val overlap = kept.flatten.flatMap(_.split(" ")).filter(jd.contains).toSet.size
    val textLines = preamble ++ blocks.flatMap { case (c, ls) =>
      val h = header(c)
      // a header ending in ':' may share its line with the first content line
      if (h.endsWith(":") && r.nextBoolean()) Seq(h + " " + ls.head) ++ ls.tail
      else h +: ls
    }
    val (ext, bytes) = r.nextInt(3) match {
      case 0 => ("pdf", pdf(textLines, r.nextBoolean()))
      case 1 => ("docx", docx(textLines))
      case _ => ("txt", textLines.mkString("\n").getBytes(UTF_8))
    }
    Resume(f"resume_$i%06d.$ext", bytes, math.min(overlap, 10).toDouble)
  }

  /** A one-page PDF whose content stream shows one line per text line. */
  def pdf(lines: Seq[String], compress: Boolean): Array[Byte] = {
    val content = lines.map(l => s"($l) Tj T*").mkString("BT /F1 11 Tf 72 760 Td 14 TL ", " ", " ET")
      .getBytes(ISO_8859_1)
    val stream = if (compress) deflate(content) else content
    val filter = if (compress) " /Filter /FlateDecode" else ""
    val bos = new ByteArrayOutputStream()
    bos.write(s"%PDF-1.4\n1 0 obj << /Length ${stream.length}$filter >>\nstream\n".getBytes(ISO_8859_1))
    bos.write(stream)
    bos.write("\nendstream\nendobj\n%%EOF\n".getBytes(ISO_8859_1))
    bos.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](8192)
    val bos = new ByteArrayOutputStream()
    while (!d.finished()) { val n = d.deflate(buf); bos.write(buf, 0, n) }
    d.end(); bos.toByteArray
  }

  /** A DOCX container with one paragraph per text line. Entry times are
    * pinned so the bytes depend on the text alone.
    */
  def docx(lines: Seq[String]): Array[Byte] = {
    val xml = lines.map(l => s"<w:p><w:r><w:t>$l</w:t></w:r></w:p>")
      .mkString("<w:document><w:body>", "", "</w:body></w:document>")
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    Seq("[Content_Types].xml" -> "<Types/>", "word/document.xml" -> xml).foreach { case (n, s) =>
      val e = new ZipEntry(n); e.setTimeLocal(java.time.LocalDateTime.of(1980, 1, 1, 0, 0))
      zos.putNextEntry(e); zos.write(s.getBytes(UTF_8)); zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  // ---- vectors -----------------------------------------------------------

  val Dim = 64

  /** Clustered corpus with neighbourhood structure: `groups` groups of
    * near neighbours, each around a centre uniform in [-1, 1]^64, so a
    * probe's exact top-10 is well defined and a product quantizer can
    * tell groups apart. Id `id` joins group `id % groups`, so any run of
    * consecutive ids (the k-means seeds, the training sample) spans many
    * groups. Vector `id` is a pure function of (seed, id, version).
    */
  final class Vectors(seed: Long, groups: Long, noise: Double = 0.02) extends Serializable {
    private def around(g: Long, r: SplittableRandom): Array[Float] = {
      val c = rng(seed, 8, g)
      Array.fill(Dim)((c.nextDouble() * 2 - 1 + gaussian(r) * noise).toFloat)
    }
    /** Corpus vector `id` (a re-inserted id draws `version` > 0). */
    def vector(id: Long, version: Int = 0): Array[Float] =
      around(id % groups, rng(seed, 4 + version * 16, id))
    /** Probe `q` of batch `b`: a query near a random group. */
    def probe(b: Long, q: Int): Array[Float] = {
      val r = rng(seed, 5, b * 1024 + q)
      around(r.nextLong(groups), r)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller on the stream's own doubles (JDK gaussian state is not
    // part of SplittableRandom)
    val u1 = math.max(r.nextDouble(), 1e-12); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** One CDC micro-batch: inserts of fresh ids, re-inserts of deleted ids
    * (new vector version) and deletes of live ids. The three id sets are
    * disjoint, so the batch's effect does not depend on intra-batch
    * order. `live`/`dead`/`nextId` carry the generator's own view of the
    * index between batches.
    */
  final class CdcStream(seed: Long, baseRows: Int, inserts: Int, reinserts: Int, deletes: Int) {
    val live: mutable.LinkedHashSet[Long] = mutable.LinkedHashSet((0L until baseRows): _*)
    val versions: mutable.Map[Long, Int] = mutable.Map.empty.withDefaultValue(0)
    private val dead = mutable.ArrayBuffer[Long]()
    private var nextId = baseRows.toLong

    /** Batch `b` (1-based, batch 0 is the base load): (vec_id, version, op). */
    def next(b: Long): Seq[(Long, Int, String)] = {
      val r = rng(seed, 6, b)
      val liveArr = live.toArray
      val dels = mutable.LinkedHashSet[Long]()
      while (dels.size < math.min(deletes, liveArr.length)) dels += liveArr(r.nextInt(liveArr.length))
      val reins = mutable.LinkedHashSet[Long]()
      while (reins.size < math.min(reinserts, dead.size)) reins += dead(r.nextInt(dead.size))
      val fresh = (nextId until nextId + inserts).toSeq
      nextId += inserts
      reins.foreach { id => versions(id) += 1; dead -= id; live += id }
      fresh.foreach(live += _)
      dels.foreach { id => live -= id; dead += id }
      fresh.map(id => (id, 0, "insert")) ++
        reins.toSeq.map(id => (id, versions(id), "insert")) ++
        dels.toSeq.map(id => (id, 0, "delete"))
    }
  }

  // ---- documents -----------------------------------------------------------

  /** A 3,000-word pseudo-vocabulary of two- and three-syllable words,
    * so unrelated documents share few tokens, as real prose does.
    */
  private val lexicon: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "so", "ta", "vi", "po", "be",
      "du", "fe", "gi", "ho", "ju", "ma", "ni", "ro", "se", "tu")
    val two = for (a <- syl; b <- syl) yield a + b
    val three = for (a <- syl; b <- syl; c <- syl) yield a + b + c
    (two ++ three.take(2600)).toIndexedSeq
  }
  private val enMarkers = IndexedSeq("the", "a", "of", "and", "to")
  private val esMarkers = IndexedSeq("el", "la", "de", "que", "y")
  private val junk = IndexedSeq("click", "here", "buy", "now", "free", "win")

  /** `len` tokens of prose in a language: lexicon words with the
    * language's stopwords mixed in at a natural rate.
    */
  private def prose(r: SplittableRandom, len: Int, markers: IndexedSeq[String]): String =
    Seq.fill(len)(if (r.nextDouble() < 0.15) pick(r, markers) else pick(r, lexicon)).mkString(" ")

  final case class Doc(id: Long, source: String, text: String)
  final case class Shard(docs: Seq[Doc], dupGroups: Seq[Seq[Long]])

  /** Curation shard `i`: `n` documents with set rates of exact duplicates
    * (groups of 2–4 byte-identical copies), token-perturbed near
    * duplicates, Spanish documents and low-quality spam. Exact-duplicate
    * originals are distinct high-quality English text, so each group
    * should leave exactly one survivor (its lowest id).
    */
  def shard(seed: Long, i: Long, n: Int, exactRate: Double = 0.12,
      nearRate: Double = 0.10, esRate: Double = 0.10, junkRate: Double = 0.06): Shard = {
    val r = rng(seed, 7, i)
    val base = i * 1_000_000L
    def english(len: Int): String = "the " + prose(r, len, enMarkers)
    val docs = mutable.ArrayBuffer[Doc]()
    val groups = mutable.ArrayBuffer[Seq[Long]]()
    val texts = mutable.ArrayBuffer[String]()
    def add(text: String): Long = {
      val id = base + docs.size
      docs += Doc(id, s"src${r.nextInt(3)}", text); texts += text; id
    }
    while (docs.size < n) {
      val u = r.nextDouble()
      if (u < exactRate && docs.size + 4 <= n) {
        val t = english(60 + r.nextInt(60))
        groups += Seq.fill(2 + r.nextInt(3))(add(t))
      } else if (u < exactRate + nearRate && texts.nonEmpty) {
        val src = texts(r.nextInt(texts.size)).split(" ")
        val j = r.nextInt(src.length)
        src(j) = pick(r, lexicon)
        add(src.mkString(" "))
      } else if (u < exactRate + nearRate + esRate) {
        add("el " + prose(r, 50 + r.nextInt(50), esMarkers))
      } else if (u < exactRate + nearRate + esRate + junkRate) {
        add(Seq.fill(8 + r.nextInt(10))(pick(r, junk)).mkString(" "))
      } else add(english(40 + r.nextInt(120)))
    }
    Shard(docs.toSeq, groups.toSeq)
  }

  /** A shard as JSON lines (id, source, text): the bytes a request reads. */
  def jsonl(s: Shard): Array[Byte] =
    s.docs.map(d => s"""{"doc_id":${d.id},"source":"${d.source}","text":"${d.text}"}""")
      .mkString("", "\n", "\n").getBytes(UTF_8)
}
