package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The MapReduce suites' text corpus, generated at test setup from a fixed
  * seed: eight `pg-*.txt` files standing in for the reference's eight
  * Project Gutenberg books (FIXTURES.md §1), so the golden, crash and
  * scheduler suites need no checkout or download.
  *
  * What the suites rely on, and how the generator provides it:
  *  - one map task per file: eight files whose smallest is over 1/24 of
  *    the total, so `minMapTasks = 24` puts the combine-split cap below
  *    every file;
  *  - crash targets by file and by key: a file named `pg-sherlock_holmes.txt`,
  *    and the word `Sherlock` in every file;
  *  - a realistic reduce side: Zipf(1) draws from a 6,000-word vocabulary
  *    (common English words, character names, accented words, then
  *    generated ones), plus a per-file topical slice, so word frequencies
  *    are skewed and `indexer`'s document lists differ between words;
  *  - the tokenizer's edge cases: capitals, punctuation, digits,
  *    apostrophes (`don't` is two words), non-ASCII letters, and CRLF line
  *    ends in half the files (whole-file and line-split runs must agree).
  *
  * `java.util.Random` is specified bit-for-bit, so the bytes, and with them
  * every pinned count and digest, are the same on every JVM.
  */
object TestCorpus {
  val Seed = 6584L

  /** File stem and target size in characters (each file ends at the first
    * line break past it): about 2 MB in all, the smallest about 7% of it.
    */
  private val books = Seq(
    "being_ernest" -> 140000, "dorian_gray" -> 275000,
    "frankenstein" -> 265000, "grimm" -> 320000,
    "huckleberry_finn" -> 350000, "metamorphosis" -> 145000,
    "sherlock_holmes" -> 330000, "tom_sawyer" -> 175000)

  private val common = Seq("the", "and", "of", "to", "a", "I", "in", "that",
    "was", "he", "it", "his", "you", "with", "had", "as", "for", "her",
    "is", "not", "at", "be", "on", "she", "my", "him", "but", "said",
    "have", "all", "so", "which", "me", "they", "from", "this", "were",
    "by", "there", "would", "no", "one", "what", "when", "been", "an",
    "or", "if", "out", "them", "will", "could", "up", "into", "we", "do",
    "then", "more", "now", "little", "very", "who", "about", "your",
    "some", "man", "did", "upon", "time", "over", "old", "know", "see",
    "before", "like", "down", "only", "come", "night", "house", "again",
    "don't", "can't", "I'm", "door", "eyes", "hand", "good", "away",
    "Sherlock", "Holmes", "Watson", "Dorian", "Gray", "Victor", "Huck",
    "Tom", "Sawyer", "Gregor", "Samsa", "Ernest", "Gretel", "Jim",
    "café", "naïve", "Müller", "señor", "façade", "élan", "œuvre",
    "Zürich", "rôle", "Ægir")

  private val onsets = Seq("b", "br", "c", "ch", "d", "dr", "f", "g", "gr",
    "h", "j", "k", "l", "m", "n", "p", "pl", "qu", "r", "s", "sh", "st",
    "t", "th", "tr", "v", "w", "wh", "y", "z")
  private val vowels = Seq("a", "e", "i", "o", "u", "ai", "ea", "ee", "oo",
    "ou", "y")
  private val codas = Seq("", "", "", "n", "r", "s", "t", "ck", "ng", "ll",
    "st", "nd", "m")

  /** `common` in rank order, then generated two- and three-syllable words
    * (distinct, never equal to a common word), 6,000 in all.
    */
  private lazy val vocab: IndexedSeq[String] = {
    val rnd = new java.util.Random(Seed)
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    val out = scala.collection.mutable.LinkedHashSet[String]() ++ common
    while (out.size < 6000) {
      val n = 2 + rnd.nextInt(2)
      out += (1 to n).map(_ => pick(onsets) + pick(vowels) + pick(codas))
        .mkString
    }
    out.toIndexedSeq
  }

  /** Cumulative Zipf(1) weights over `vocab`'s ranks. */
  private lazy val zipf: Array[Double] =
    vocab.indices.scanLeft(0.0)((acc, r) => acc + 1.0 / (r + 1)).tail.toArray

  private def zipfWord(rnd: java.util.Random): String = {
    val u = rnd.nextDouble() * zipf.last
    val i = java.util.Arrays.binarySearch(zipf, u)
    vocab(if (i >= 0) i else math.min(-i - 1, vocab.size - 1))
  }

  private def text(book: Int, size: Int): String = {
    val rnd = new java.util.Random(Seed * 31 + book)
    val eol = if (book % 2 == 0) "\r\n" else "\n"
    // Topical slice: 60 generated words this file draws from more often.
    val topical = vocab.slice(1000 + 60 * book, 1060 + 60 * book)
    val sb = new java.lang.StringBuilder(size + 200)
    val line = new java.lang.StringBuilder
    def flush(): Unit = { sb.append(line).append(eol); line.setLength(0) }
    def put(tok: String): Unit = {
      if (line.length + tok.length + 1 > 72) flush()
      if (line.length > 0) line.append(' ')
      line.append(tok)
    }
    var chapter = 0
    while (sb.length < size) {
      if (rnd.nextInt(40) == 0) {
        chapter += 1
        if (line.length > 0) flush()
        sb.append(eol).append(s"CHAPTER $chapter.").append(eol).append(eol)
      }
      val n = 5 + rnd.nextInt(16)
      var w = 0
      while (w < n) {
        var word =
          if (rnd.nextInt(100) < 15) topical(rnd.nextInt(topical.size))
          else if (rnd.nextInt(400) == 0) "Sherlock"
          else zipfWord(rnd)
        if (w == 0) word = word.capitalize
        if (w == n - 1) word += Seq(".", ".", ".", "!", "?")(rnd.nextInt(5))
        else if (rnd.nextInt(10) == 0) word += ","
        else if (rnd.nextInt(60) == 0) word += s" ${1800 + rnd.nextInt(100)}"
        if (rnd.nextInt(50) == 0) word = "\"" + word + "\""
        put(word)
        w += 1
      }
      if (rnd.nextInt(8) == 0) { if (line.length > 0) flush(); sb.append(eol) }
    }
    if (line.length > 0) flush()
    sb.toString
  }

  /** Directory holding the generated `pg-*.txt` files, written once per JVM
    * and removed at exit.
    */
  lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_pg_corpus")
    d.toFile.deleteOnExit()
    books.zipWithIndex.foreach { case ((stem, size), i) =>
      val f = d.resolve(s"pg-$stem.txt")
      Files.write(f, text(i, size).getBytes(StandardCharsets.UTF_8))
      f.toFile.deleteOnExit()
    }
    d
  }

  /** The glob the MapReduce runners take, like the reference's `pg-*.txt`. */
  lazy val glob: String = dir.resolve("pg-*.txt").toString
}
