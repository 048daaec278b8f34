package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded inputs. Every workload's data is written here from the run's
  * seed; the program under test only ever sees the files.
  */
object Inputs {

  val rawTables: Seq[String] = Seq(
    "sales.csv", "expenses.csv", "payroll.csv", "inventory_movements.csv", "fx_rates.csv")

  /** data lines of a CSV written by this package or by `SampleData`
    * (one record per line, header first)
    */
  def dataLines(p: Path): Vector[String] =
    Files.readAllLines(p).asScala.toVector.drop(1).filter(_.nonEmpty)

  def rawRows(rawDir: Path): Long =
    rawTables.map(t => dataLines(rawDir.resolve(t)).size.toLong).sum

  // ---- ERROR-severity defect injector (close_rejected) --------------------

  /** one row of the expected DQ audit, grouped as `dq_exceptions.csv` is */
  final case class AuditKey(dataset: String, check: String, severity: String)

  /** a defect kind: overwrite `column` of a row of `file` with `value`,
    * which the close must report as exactly one `key` exception
    */
  private final case class Defect(file: String, column: Int, value: String,
      key: AuditKey, weight: Double)

  private val defects = Seq(
    Defect("sales.csv", 3, "49999999",
      AuditKey("sales", "account_in_coa", "ERROR"), 0.25),
    Defect("sales.csv", 0, "not-a-date",
      AuditKey("sales", "dtype('date')", "ERROR"), 0.15),
    Defect("expenses.csv", 4, "GBP",
      AuditKey("expenses", "isin(USD, TZS, EUR)", "ERROR"), 0.30),
    Defect("payroll.csv", 2, "",
      AuditKey("payroll", "not_nullable", "ERROR"), 0.10),
    Defect("inventory_movements.csv", 2, "",
      AuditKey("inventory_movements", "not_nullable", "ERROR"), 0.20))

  /** a bad rate on a few FX rows: every fx_rates exception is ERROR */
  private val fxDefect = Defect("fx_rates.csv", 3, "n/a",
    AuditKey("fx_rates", "dtype('double')", "ERROR"), 0.0)

  /** Rewrites the raw tables under `rawDir` with about `target` ERROR
    * defects (the exact count is drawn from `seed`), each on its own row,
    * and returns the audit the close must write for them.
    */
  def injectDefects(rawDir: Path, target: Int, seed: Long): Map[AuditKey, Long] = {
    val rnd = new Random(seed)
    val total = target + rnd.nextInt(target / 50 + 1)
    val counts = defects.map(d => d -> math.round(total * d.weight).toInt) :+
      (fxDefect -> (2 + rnd.nextInt(4)))
    counts.groupBy(_._1.file).foreach { case (file, kinds) =>
      val path = rawDir.resolve(file)
      val all = Files.readAllLines(path).asScala.toVector.filter(_.nonEmpty)
      val rows = all.tail.toArray
      val picked = rnd.shuffle(rows.indices.toVector)
      require(kinds.map(_._2).sum <= rows.length, s"defects do not fit $file")
      val starts = kinds.map(_._2).scanLeft(0)(_ + _)
      kinds.zip(starts).foreach { case ((d, n), from) =>
        picked.slice(from, from + n).foreach { r =>
          val cells = rows(r).split(",", -1)
          cells(d.column) = d.value
          rows(r) = cells.mkString(",")
        }
      }
      Files.writeString(path, (all.head +: rows.toVector).mkString("\n") + "\n")
    }
    counts.map { case (d, n) => d.key -> n.toLong }.toMap
  }

  // ---- corpus documents (corpus_ingest) ------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** generated documents, with each copy's original (copy id -> original id) */
  final case class Documents(docs: Vector[Doc], exactCopies: Map[Long, Long],
      nearDups: Map[Long, Long])

  /** Shape of the `documents` table of the sf0.1 test data, as
    * `perfbench/profile_documents.py` measures it: 5,000 documents whose
    * 10 to 100 words (uniform) are drawn uniformly from these 30 words;
    * language en for 2,059 of them and de, fr, es or zh for ~740 each;
    * 20 sources of 250 documents; 250 near-duplicates, each the text of
    * another document plus the word "dup"; 8 exact copies, mostly under
    * another language. That table has 4,617 distinct (lang, word bigram)
    * keys and a largest document frequency of 152, the sf1-plain figures
    * of BASELINE.md (46,170 keys over ten disjoint replicas; max df 152).
    */
  val corpusDocs = 5000
  private val nearDupDocs = 250
  private val exactCopyDocs = 8
  private val enShare = 2059.0 / 5000
  private val vocab = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val otherLangs = Vector("de", "fr", "es", "zh")

  /** The sf0.1-shaped corpus for `seed`. Each exact copy copies a fresh
    * document with a lower id, so that in any batch the copy, not its
    * original, is the one dedup drops; near-duplicates copy any fresh
    * document.
    */
  def documents(seed: Long): Documents = {
    val rnd = new Random(seed)
    val n = corpusDocs
    val picked = rnd.shuffle((1 until n).toVector)
    val nearDupAt = picked.take(nearDupDocs).toSet
    val exactAt = picked.slice(nearDupDocs, nearDupDocs + exactCopyDocs).toSet
    val texts = Array.fill(n)(Vector.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val fresh = (0 until n).filterNot(i => nearDupAt(i) || exactAt(i)).toVector
    val nearDups = nearDupAt.toVector.sorted.map { i =>
      val orig = fresh(rnd.nextInt(fresh.size))
      texts(i) = texts(orig) + " dup"
      i.toLong -> orig.toLong
    }.toMap
    val exactCopies = exactAt.toVector.sorted.map { i =>
      val earlier = fresh.takeWhile(_ < i)
      val orig = earlier(rnd.nextInt(earlier.size))
      texts(i) = texts(orig)
      i.toLong -> orig.toLong
    }.toMap
    val docs = texts.toVector.zipWithIndex.map { case (t, i) =>
      val lang = if (rnd.nextDouble() < enShare) "en" else otherLangs(rnd.nextInt(otherLangs.size))
      Doc(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
    Documents(docs, exactCopies, nearDups)
  }

  /** distinct word bigrams of a text, as `Corpus.withShingles` forms them */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(2).collect { case Array(a, b) => a + " " + b }.toSet

  /** Bigram jaccard of two shingle sets, rounded at 6 dp as the corpus
    * layer rounds it before comparing with its threshold.
    */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else math.floor(inter.toDouble / union * 1e6 + 0.5) / 1e6
  }
}
