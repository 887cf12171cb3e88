package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generator. Every input the benchmark hands the library is
  * built here from `--seed`, so the same seed gives byte-identical inputs
  * ([[Gen.csv]] is the canonical encoding GenSpec pins). Each data set draws
  * from its own stream, so resizing one leaves the others unchanged.
  */
object Gen {

  /** First day of the generated history; sources span two years. */
  val start: LocalDate = LocalDate.of(2022, 1, 1)
  val days = 730
  /** Last day of the history: the DAG's `asOf`. */
  val asOf: LocalDate = start.plusDays(days - 1)

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  // ------------------------------------------------------------ card data

  final case class Tx(key: String, date: LocalDate, cents: Long, card: Int,
      description: String, txType: String) {
    def csv: String =
      s"$key,$date,$cents,$card,${quote(description)},$txType"
  }

  /** The descriptions card rows draw from: the real 795-rule bank's
    * generated examples, every 5th merchant name (the name fallback) and
    * unclassifiable strings.
    */
  lazy val descriptions: IndexedSeq[String] =
    graft.models.RefSeedFixture.probes.map(_.description).toIndexedSeq

  private val cards = IndexedSeq(3221, 4245, 5083, 6823)
  private val paymentDescs = IndexedSeq("ONLINE PAYMENT THANK YOU",
    "AUTOMATIC PAYMENT - THANK", "PAYMENT THANK YOU - WEB")

  private def drawTx(r: SplittableRandom, key: String, date: LocalDate): Tx =
    if (r.nextInt(100) < 3)
      Tx(key, date, 1000L + r.nextInt(200000), cards(r.nextInt(4)),
        paymentDescs(r.nextInt(paymentDescs.size)), "Payment")
    else
      Tx(key, date, 100L + r.nextInt(50000), cards(r.nextInt(4)),
        descriptions(r.nextInt(descriptions.size)), "Sale")

  /** Tuples (date, amount, card, description) are unique within one call:
    * the classifier's output drops the key, and the benchmark joins it
    * back on that tuple.
    */
  private def uniq(txs: Iterator[Tx]): IndexedSeq[Tx] = {
    val seen = mutable.HashSet.empty[(LocalDate, Long, Int, String)]
    txs.map { t0 =>
      var t = t0
      while (!seen.add((t.date, t.cents, t.card, t.description)))
        t = t.copy(cents = t.cents + 1)
      t
    }.toIndexedSeq
  }

  /** `n` card transactions over the two-year history. */
  def cardTransactions(seed: Long, n: Int): IndexedSeq[Tx] = {
    val r = rng(seed, 1)
    uniq(Iterator.tabulate(n) { i =>
      drawTx(r, f"t$i%07d", start.plusDays(r.nextInt(days)))
    })
  }

  /** Day `day`'s batch (day 0 is the day after the history): `n` rows, of
    * which a `resentPct` percent share re-sends a key of `history` with a
    * corrected amount (an upsert); the rest are new transactions.
    */
  def dayBatch(seed: Long, day: Int, n: Int, resentPct: Int,
      history: IndexedSeq[Tx]): IndexedSeq[Tx] = {
    val r = rng(seed, 1000 + day)
    val date = asOf.plusDays(1L + day)
    val picked = mutable.HashSet.empty[String]
    uniq(Iterator.tabulate(n) { i =>
      if (r.nextInt(100) < resentPct) {
        var old = history(r.nextInt(history.size))
        while (!picked.add(old.key)) old = history(r.nextInt(history.size))
        old.copy(cents = old.cents + 1 + r.nextInt(500))
      } else drawTx(r, f"d$day%04d-$i%05d", date)
    })
  }

  // ---------------------------------------------------------- health logs

  final case class Exercise(date: LocalDate, label: String, kind: String,
      areas: String, dist: Option[Double], cal: Option[Double],
      dur: Option[Double], reps: Double, sets: Double) {
    def csv: String = Seq(date, label, kind, quote(areas), opt(dist),
      opt(cal), opt(dur), reps, sets).mkString(",")
  }
  final case class Weight(date: LocalDate, weight: Double) {
    def csv: String = s"$date,$weight"
  }
  final case class Recipe(date: LocalDate, dish: String, plants: String,
      costCents: Long) {
    def csv: String = s"$date,$dish,${quote(plants)},$costCents"
  }
  final case class Shopping(date: LocalDate, ingredient: String,
      qty: Double, priceCents: Long) {
    def csv: String = s"$date,$ingredient,$qty,$priceCents"
  }
  final case class Health(exercise: IndexedSeq[Exercise],
      weights: IndexedSeq[Weight], recipes: IndexedSeq[Recipe],
      shopping: IndexedSeq[Shopping]) {
    def rows: Long =
      exercise.size.toLong + weights.size + recipes.size + shopping.size
  }

  // (label, type, target areas): the flatten models split and trim the
  // areas, so the spellings vary the separators on purpose
  private val exercises = IndexedSeq(
    ("Treadmill", "Cardio", ""), ("Rowing", "Cardio", ""),
    ("Bench Press", "Weights", "Chest, Arms"),
    ("Squat", "Weights", "Legs , Glutes"),
    ("Deadlift", "Weights", "Back,Legs"),
    ("Pull Up", "Calisthenics", "Back,Lats"),
    ("Push Up", "Calisthenics", "Chest ,Arms"),
    ("Lunge", "Weights", "Legs, Glutes , Core"))
  private val plants = IndexedSeq("Onion", "Garlic", "Ginger", "Kale",
    "Lettuce", "Tomato", "Pepper", "Spinach", "Carrot", "Leek", "Basil",
    "Chickpea", "Lentil", "Broccoli", "Celery", "Mushroom", "Zucchini",
    "Cabbage", "Beet", "Parsley")

  /** Health logs of about `n` rows in total. Measures are integer- or
    * half-valued, so double sums are exact in any order and two builds of
    * the same inputs hash identically.
    */
  def health(seed: Long, n: Int): Health = {
    val r = rng(seed, 2)
    def day() = start.plusDays(r.nextInt(days))
    val ex = IndexedSeq.fill(n * 2 / 5) {
      val (label, kind, areas) = exercises(r.nextInt(exercises.size))
      val cardio = kind == "Cardio"
      Exercise(day(), label, kind, areas,
        if (cardio) Some(r.nextInt(20) * 0.5) else None,
        if (cardio) Some(100.0 + r.nextInt(600)) else None,
        if (cardio) Some(10.0 + r.nextInt(80)) else None,
        r.nextInt(15).toDouble, 1.0 + r.nextInt(5))
    }
    val wt = IndexedSeq.fill(n / 20)(Weight(day(), 140.0 + r.nextInt(120) * 0.5))
    val rc = IndexedSeq.fill(n * 3 / 10) {
      val k = r.nextInt(5)
      val ps = IndexedSeq.fill(k)(plants(r.nextInt(plants.size)))
      val sep = if (r.nextBoolean()) ", " else ","
      Recipe(day(), s"dish_${r.nextInt(60)}", ps.mkString(sep),
        200L + r.nextInt(5000))
    }
    val sh = IndexedSeq.fill(n / 4) {
      Shopping(day(), s"ing_${r.nextInt(80)}", r.nextInt(10).toDouble,
        50L + r.nextInt(3000))
    }
    Health(ex, wt, rc, sh)
  }

  // ------------------------------------------------------------ documents

  final case class Doc(id: Long, text: String) {
    def csv: String = s"$id,$text"
  }

  /** A Zipfian vocabulary: `size` distinct pseudo-words, rank 0 most
    * frequent, drawn with probability proportional to 1/(rank+1)^s.
    */
  final class Zipf(seed: Long, size: Int, s: Double) {
    val words: IndexedSeq[String] = {
      val r = rng(seed, 3)
      val syll = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
        "be", "da", "fu", "go", "hi", "ja", "pe", "zu", "an", "el", "or", "ys")
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < size)
        seen += Iterator.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.size))).mkString
      seen.toIndexedSeq
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(if (i >= 0) i else -i - 1, size - 1))
    }
    def doc(r: SplittableRandom, id: Long): Doc =
      Doc(id, Iterator.fill(20 + r.nextInt(41))(draw(r)).mkString(" "))
  }

  def zipf(seed: Long): Zipf = new Zipf(seed, 30000, 1.07)

  /** The initial corpus: doc ids 0 until `n`. */
  def corpus(seed: Long, z: Zipf, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 4)
    IndexedSeq.tabulate(n)(i => z.doc(r, i.toLong))
  }

  /** One CDC round over the live doc ids `live` (sorted): `nUpsert` docs
    * are rewritten (half of them updates of live docs, half new ids from
    * `nextId` on), and `nDelete` other live docs are deleted.
    */
  def cdcRound(seed: Long, z: Zipf, round: Int, live: IndexedSeq[Long],
      nextId: Long, nUpsert: Int, nDelete: Int): (IndexedSeq[Doc], IndexedSeq[Long]) = {
    val r = rng(seed, 2000 + round)
    val touched = mutable.LinkedHashSet.empty[Long]
    while (touched.size < nUpsert / 2 + nDelete)
      touched += live(r.nextInt(live.size))
    val (upd, del) = touched.toIndexedSeq.splitAt(nUpsert / 2)
    val fresh = (0 until nUpsert - upd.size).map(i => nextId + i)
    ((upd ++ fresh).map(id => z.doc(r, id)), del.sorted)
  }

  /** A query of 1–3 terms drawn from a live document's own text. */
  def queryTerms(r: SplittableRandom, text: String): Seq[String] = {
    val toks = text.split(' ')
    Seq.fill(1 + r.nextInt(3))(toks(r.nextInt(toks.length))).distinct
  }

  // --------------------------------------------------------- canonical csv

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\"" else s
  private def opt(d: Option[Double]): String = d.map(_.toString).getOrElse("")

  /** Canonical encoding of generated rows: the bytes the determinism check
    * compares, and the byte size that write amplification divides by.
    */
  def csv(lines: Iterable[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def csvBytes(lines: Iterable[String]): Long = csv(lines).length.toLong
}
