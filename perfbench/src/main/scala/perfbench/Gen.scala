package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded input generators. The same seed always yields the same inputs;
  * each generator also returns the facts it planted, which the workload
  * checks the engine's results against. */
object Gen {

  // ---- medication feed (the meds.json shape) ----------------------------

  /** What the feed generator planted: price triage buckets and the rows
    * that survive cleaning and reach the ML dataset. */
  final case class Feed(records: Long, nullPrice: Long, zeroPrice: Long,
      validPrice: Long, mlRows: Long, bytes: Long)

  private val letters = ('A' to 'Z').map(_.toString)
  private val labs = Seq("ALDAPH", "BIOCARE", "CURAMED", "DELTALAB", "EUROPHARM", "FRATER", "SAIDAL")
  private val forms = Seq("Comprimé", "Sirop", "Injectable", "Gélule", "Pommade")
  private val therap = Seq("ANTIBIOTIQUES", "ANTALGIQUES", "CARDIOLOGIE", "DERMATOLOGIE", "DIABETE", "NEUROLOGIE")
  private val pharmaco = Seq("PENICILLINES", "PARACETAMOL", "BETABLOQUANTS", "CORTICOIDES", "INSULINES", "ANTIEPILEPTIQUES")
  private val generics = Seq("amoxicilline", "paracetamol", "atenolol", "betamethasone", "insuline", "", "carbamazepine")
  // a list-price grid like the reference feed's: every bucket edge
  // (50/100/200/500/1000) plus interiors and a tail
  private val prices = Seq(15, 25, 40, 50, 75, 100, 120, 150, 200, 250, 320, 400, 500,
    650, 750, 900, 1000, 1200, 1500, 2000, 2500, 3200)

  private def q(s: String): String = "\"" + s + "\""
  private def orNull(r: Random, oneIn: Int, v: => String): String =
    if (r.nextInt(oneIn) == 0) "null" else q(v)

  /** Write `docs` feed documents of `perDoc` records each, one document
    * per line, into `dir` (4 files). The dirty-value mix follows
    * PharmaFixture: null, empty, digit-free and zero prices; null
    * `refundable`; nulls in each ML feature column; prices on every
    * bucket edge. */
  def feed(seed: Long, docs: Int, perDoc: Int, dir: Path): Feed = {
    val r = new Random(seed)
    var nullPrice, zeroPrice, validPrice, mlRows = 0L
    var id = 0
    val lines = (0 until docs).map { _ =>
      val byLetter = (0 until perDoc).map { _ =>
        id += 1
        val price = prices(r.nextInt(prices.size))
        val (rate, valid) = r.nextInt(20) match {
          case 0 => nullPrice += 1; ("null", false)
          case 1 => nullPrice += 1; (q(""), false)
          case 2 => nullPrice += 1; (q("gratuit"), false)
          case 3 => zeroPrice += 1; (q("0 DA"), false)
          case _ => validPrice += 1; (q(s"$price.00 DA"), true)
        }
        val form = orNull(r, 13, forms(r.nextInt(forms.size)))
        val lab = orNull(r, 17, labs(r.nextInt(labs.size)))
        val thIdx = r.nextInt(therap.size)
        val th = orNull(r, 19, therap(thIdx))
        // Coverage follows the price band and, between 200 and 1000 DA, the
        // disease area; an unknown (null) `refundable` only ever stands for
        // "not covered", the reference's imputation, so labels stay learnable.
        val covered = price <= 200 || (price <= 1000 && thIdx % 2 == 0)
        val refundable =
          if (covered) "true" else if (r.nextInt(6) == 0) "null" else "false"
        val ph = orNull(r, 23, pharmaco(r.nextInt(pharmaco.size)))
        if (valid && Seq(form, lab, th, ph).forall(_ != "null")) mlRows += 1
        val letter = letters(r.nextInt(letters.size))
        letter -> (s"""{"name": "$letter-MED-$id", "generic": ${q(generics(r.nextInt(generics.size)))}, """ +
          s""""form": $form, "reference_rate": $rate, "refundable": $refundable, """ +
          s""""lab": {"name": $lab, "address": "Rue ${id % 40}, Alger", "tel": "021-$id", "web": "lab${id % 7}.dz"}, """ +
          s""""class": {"therapeutic": $th, "pharmacological": $ph}}""")
      }
      byLetter.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (l, rs) => q(l) + ": [" + rs.map(_._2).mkString(", ") + "]" }
        .mkString("{", ", ", "}")
    }
    Files.createDirectories(dir)
    var bytes = 0L
    lines.grouped(math.max(1, (lines.size + 3) / 4)).zipWithIndex.foreach { case (part, i) =>
      val text = part.mkString("", "\n", "\n").getBytes(UTF_8)
      bytes += text.length
      Files.write(dir.resolve(f"feed-$i%02d.json"), text)
    }
    Feed(docs.toLong * perDoc, nullPrice, zeroPrice, validPrice, mlRows, bytes)
  }

  // ---- curation corpus ---------------------------------------------------

  // the 31-word vocabulary and the language mix (en about 41%, the other
  // four about 15% each) of the sf0.1 `documents.parquet`
  private val vocab = ("a agg batch big column customer data dup fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector " +
    "window").split(' ').toIndexedSeq
  private val langs = Seq("en", "en", "en", "fr", "es", "de", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` random documents plus `share`·n token-edited copies with new ids.
    * Returns the corpus and the injected (original, copy) pairs. */
  def corpus(seed: Long, n: Int, share: Double): (Seq[Doc], Seq[(Long, Long)]) = {
    val r = new Random(seed ^ 0x5eedL)
    val base = (0 until n).map { i =>
      val len = 10 + r.nextInt(91)
      Doc(i.toLong, Seq.fill(len)(vocab(r.nextInt(vocab.size))).mkString(" "),
        langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}")
    }
    val picks = r.shuffle(base.indices.toList).take((n * share).round.toInt)
    val copies = picks.zipWithIndex.map { case (src, j) =>
      val toks = base(src).text.split(' ')
      // about one edit per 20 tokens, at least one
      (0 until math.max(1, toks.length / 20)).foreach { _ =>
        toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.size))
      }
      base(src).copy(id = 1000000L + j, text = toks.mkString(" "))
    }
    (base ++ copies, picks.zip(copies).map { case (src, c) => (src.toLong, c.id) })
  }

  /** `n` random unit vectors with a random label of 10, the shape of the
    * sf0.1 `embeddings.parquet` (there the labels carry no cluster
    * structure: same-label and cross-label cosines both have a median
    * near 0), plus `share`·n slightly perturbed copies with new ids. */
  def embeddings(seed: Long, n: Int, dim: Int, share: Double): Seq[(Long, Array[Float], Int)] = {
    val r = new Random(seed ^ 0xe3bL)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val base = (0 until n).map(i => (i.toLong, unit(Array.fill(dim)(r.nextGaussian())), r.nextInt(10)))
    val copies = r.shuffle(base.toList).take((n * share).round.toInt).zipWithIndex.map {
      case ((_, v, label), j) => (1000000L + j, unit(v.map(_ + 0.01 * r.nextGaussian())), label)
    }
    (base ++ copies).map { case (id, v, l) => (id, v.map(_.toFloat), l) }
  }

  /** Exact semantic dedup on the driver: the ids that have a lower-id
    * vector at rounded cosine ≥ `threshold` (zero vectors are kept). */
  def semanticPruned(vecs: Seq[(Long, Array[Float])], threshold: Double): Set[Long] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val unit = vecs.flatMap { case (id, v) =>
      val d = v.map(_.toDouble)
      val norm = math.sqrt(dot(d, d))
      if (norm > 0) Some(id -> d.map(_ / norm)) else None
    }.sortBy(_._1).toIndexedSeq
    def rounded(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    unit.indices.filter { j =>
      (0 until j).exists(i => rounded(dot(unit(i)._2, unit(j)._2)) >= threshold)
    }.map(unit(_)._1).toSet
  }

  // ---- event stream ------------------------------------------------------

  final case class Event(eventId: Long, tsMicros: Long, userId: Long,
      eventType: String, value: Double, props: String)

  private val eventTypes = Seq("view", "click", "purchase", "error", "signup")

  /** `n` events over `users` keys. Timestamps drift forward with jitter,
    * so arrival order and event time disagree and the merge must order by
    * time, not by position. */
  def events(seed: Long, n: Int, users: Int): Seq[Event] = {
    val r = new Random(seed ^ 0xe7e7L)
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    (0 until n).map { i =>
      Event(i.toLong, t0 + i * 1000L + r.nextInt(20000), r.nextInt(users).toLong,
        eventTypes(r.nextInt(eventTypes.size)), (r.nextInt(100000) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Latest event id per user, by (ts desc, event_id desc). */
  def latestPerUser(evs: Seq[Event]): Map[Long, Long] =
    evs.groupBy(_.userId).map { case (u, es) =>
      u -> es.maxBy(e => (e.tsMicros, e.eventId)).eventId
    }
}
