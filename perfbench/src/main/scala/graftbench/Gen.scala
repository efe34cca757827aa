package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every input the program receives is a file
  * written here; the same seed writes byte-identical files. Each
  * generator also keeps the ground truth its workload's checks compare
  * against, and writes it as `manifest.json` beside the inputs. */
object Gen {

  def writeFile(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  def jsonStr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def shuffle[T](xs: mutable.ArrayBuffer[T], r: SplittableRandom): Unit =
    for (i <- xs.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }

  /** SHA-256 over every file under `dir` (relative path and bytes), in
    * path order: the determinism check's fingerprint of an input set. */
  def fingerprint(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val base = dir.toPath
    walk(dir).foreach { f =>
      md.update(base.relativize(f.toPath).toString.getBytes(UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def bytesUnder(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else dir.listFiles().map(bytesUnder).sum
}

/** Pseudo-word text shared by the two curation workloads. MinHash
  * shingles characters (5-grams), so body words are random letter strings
  * drawn from a large vocabulary: two unrelated documents share almost no
  * shingles, and a one-word edit keeps a near copy above 0.95 Jaccard.
  * Body words have at least four letters, so they never collide with the
  * three-letter stopwords that decide the language; boilerplate words
  * carry a `zq` prefix no body word starts with. */
object Text {
  /** 30000 distinct body words, fixed across seeds. */
  val vocab: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet[String]()
    val r = new SplittableRandom(7L)
    while (seen.size < 30000) {
      val w = Array.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString
      if (!w.startsWith("zq")) seen += w
    }
    seen.toIndexedSeq
  }

  val header: Seq[String] = (1 to 16).map(i => s"zqhead${('a' + i).toChar}nav")
  val footer: Seq[String] = (1 to 16).map(i => s"zqfoot${('a' + i).toChar}lnk")

  val stopwords: Map[String, Seq[String]] = graft.text.TextAnalysis.Stopwords

  /** A body of `nSeg` 16-token segments in `lang`: one token in eight is
    * one of that language's stopwords. */
  def body(r: SplittableRandom, lang: String, nSeg: Int): Array[String] = {
    val sw = stopwords(lang)
    Array.fill(nSeg * 16) {
      if (r.nextInt(8) == 0) sw(r.nextInt(sw.size)) else vocab(r.nextInt(vocab.size))
    }
  }

  /** One body word replaced by a different body word: a near copy whose
    * 5-shingle Jaccard with the original stays above 0.95. */
  def nearCopy(r: SplittableRandom, toks: Array[String]): Array[String] = {
    val out = toks.clone()
    var i = r.nextInt(out.length)
    while (out(i).length < 4) i = r.nextInt(out.length) // a body word, not a stopword
    var w = vocab(r.nextInt(vocab.size))
    while (w == out(i)) w = vocab(r.nextInt(vocab.size))
    out(i) = w
    out
  }

  private val junkToks = Seq("@@", "#$", "%%!", "&*", "!!", "$#@", "**", "%&")

  /** Short punctuation runs: quality score far below 0.3. */
  def junk(r: SplittableRandom): String =
    (0 until 8 + r.nextInt(6)).map(_ => junkToks(r.nextInt(junkToks.size)))
      .mkString(" ")

  /** A fresh kept-language document body (en or es). */
  def keptLang(r: SplittableRandom): String = if (r.nextInt(5) == 0) "es" else "en"

  /** A document the language allowlist drops (fr or de). */
  def droppedLang(r: SplittableRandom): String = if (r.nextBoolean()) "fr" else "de"
}
