package embedbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** One generated document. `valid` is the generator's expectation of how
  * the engine's validation routes it (planted-invalid rows are false).
  */
final case class GenDoc(id: Long, text: String, valid: Boolean, sentences: Int)

/** One generated query; planted-invalid queries must be rejected. */
final case class GenQuery(text: String, valid: Boolean)

/** Seeded input generators. The engine sees only what these return: the
  * same seed gives byte-identical inputs ([[digest]] checks it), and each
  * workload draws from its own stream so adding one never shifts another.
  *
  * SplittableRandom is used because its algorithm is fixed by the JDK
  * specification, so a seed means the same inputs on every JVM.
  */
object Gen {

  private val Words: Array[String] = (
    "the court held that plaintiff defendant appellant appellee motion " +
    "judgment summary dismiss claim claims evidence record trial jury " +
    "verdict statute section federal state district circuit appeal " +
    "review standard de novo abuse discretion finding findings fact law " +
    "contract breach damages injunction relief order petition habeas " +
    "corpus sentence conviction counsel ineffective assistance amendment " +
    "constitution clause due process equal protection search seizure " +
    "warrant probable cause officer testimony witness hearing remand " +
    "reverse affirm vacate jurisdiction standing injury causation " +
    "negligence duty reasonable person liability tort property lease " +
    "tenant landlord employer employee discrimination retaliation agency " +
    "regulation interpretation plain meaning legislative history intent " +
    "precedent binding persuasive dissent concurrence majority opinion " +
    "argument brief party parties respondent petitioner government " +
    "prosecution defense objection hearsay admissible exclusion prejudice " +
    "harmless error plain waiver forfeiture procedural default timely " +
    "filed notice complaint answer discovery deposition sanction " +
    "attorney fees costs settlement agreement arbitration clause " +
    "enforceable unconscionable consideration performance remedy " +
    "because however therefore moreover although unless whether where " +
    "which under within without before after during upon against " +
    "between among its their this that these those such any each every " +
    "not only also must may shall would could should did does was were " +
    "is are been being have has had").split(' ')

  private val Parties: Array[String] = Array(
    "Brown", "Smith", "Jones", "Miller", "Garcia", "Johnson", "Williams",
    "Davis", "Rodriguez", "Martinez", "Anderson", "Taylor", "Thomas",
    "Moore", "Jackson", "Martin", "Lee", "Thompson", "White", "Harris",
    "United States", "State", "Board", "County", "City", "Commonwealth")

  private val Judges: Array[String] = Array(
    "Jane R. Smith", "Robert T. Chen", "Maria Lopez", "David K. Okafor",
    "Susan B. Ward", "Thomas Nguyen", "Alice M. Becker", "James O'Neil")

  private def pick[A](r: SplittableRandom, xs: Array[A]): A =
    xs(r.nextInt(xs.length))

  /** Zipf-like word draw: squaring a uniform biases toward the front. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Words((u * u * Words.length).toInt)
  }

  private def citation(r: SplittableRandom): String = r.nextInt(6) match {
    case 0 =>
      s"${pick(r, Parties)} v. ${pick(r, Parties)}, ${100 + r.nextInt(480)} " +
        s"U.S. ${1 + r.nextInt(999)} (${1900 + r.nextInt(124)})"
    case 1 =>
      s"${pick(r, Parties)} v. ${pick(r, Parties)}, ${1 + r.nextInt(999)} " +
        s"F.3d ${1 + r.nextInt(1400)}, ${1 + r.nextInt(1400)} " +
        s"(${1 + r.nextInt(11)}th Cir. ${1990 + r.nextInt(34)})"
    case 2 => s"No. ${1000 + r.nextInt(9000)}"
    case 3 => s"Id. at ${1 + r.nextInt(900)}"
    case 4 => s"${1 + r.nextInt(50)} U.S.C. ${100 + r.nextInt(9000)}(a)"
    case _ => s"Mr. Justice ${pick(r, Parties)}"
  }

  private def clause(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(word(r))
      i += 1
    }
    sb.toString
  }

  /** One opinion sentence: prose, sometimes a citation or a quotation. */
  private def sentence(r: SplittableRandom): String = {
    val body = clause(r, 8 + r.nextInt(26))
    val s = r.nextInt(10) match {
      case 0 | 1 => s"$body, ${citation(r)}"
      case 2 => body + ", stating that \"" + clause(r, 4 + r.nextInt(12)) + "\""
      case 3 => s"See ${citation(r)}; $body"
      case _ => body
    }
    val end = if (r.nextInt(25) == 0) "?" else "."
    s.substring(0, 1).toUpperCase + s.substring(1) + end
  }

  private def caption(r: SplittableRandom, id: Long): String =
    s"UNITED STATES COURT OF APPEALS\nFOR THE ${1 + r.nextInt(11)}TH CIRCUIT\n\n" +
      s"No. ${10 + r.nextInt(14)}-${1000 + r.nextInt(9000)}\n\n" +
      s"${pick(r, Parties).toUpperCase}, Plaintiff-Appellant,\nv.\n" +
      s"${pick(r, Parties).toUpperCase}, Defendant-Appellee.\n\n" +
      s"OPINION (docket $id)\n\n"

  /** A multi-paragraph court opinion of `targetChars` or slightly more. */
  private def opinion(r: SplittableRandom, id: Long, targetChars: Int): GenDoc = {
    val sb = new StringBuilder(targetChars + 2048)
    sb.append(caption(r, id))
    var sentences = 0
    while (sb.length < targetChars) {
      val n = 3 + r.nextInt(7)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(sentence(r))
        sentences += 1
        i += 1
      }
      sb.append("\n\n")
    }
    GenDoc(id, sb.toString.trim, valid = true, sentences)
  }

  /** `n` opinions of 20-60 KB each. Every one is valid. */
  def opinions(seed: Long, n: Int): Vector[GenDoc] = {
    val r = new SplittableRandom(seed ^ 0x6f70696e696f6e73L)
    Vector.tabulate(n) { i =>
      opinion(r, 1000L + i, 20000 + r.nextInt(40001))
    }
  }

  /** A snippet and the number of sentences generated for it. */
  private def snippet(r: SplittableRandom, id: Long): (String, Int) = {
    val target = 50 + r.nextInt(551)
    val head = r.nextInt(4) match {
      case 0 => s"ORDER granting ${1 + r.nextInt(300)} Motion to Dismiss."
      case 1 => s"MINUTE ENTRY for proceedings held before Judge ${pick(r, Judges)}."
      case 2 => s"HEADNOTE: ${sentence(r)}"
      case _ => s"NOTICE of Appeal as to ${pick(r, Parties)} (No. ${1000 + r.nextInt(9000)})."
    }
    val sb = new StringBuilder(target + 256).append(head)
    var sentences = 1
    while (sb.length < target) { sb.append(' ').append(sentence(r)); sentences += 1 }
    // cut at the target on a word boundary so lengths spread over 50-600
    val cut = sb.lastIndexOf(" ", target)
    ((if (sb.length > target && cut > 40) sb.substring(0, cut) else sb.toString).trim,
      sentences)
  }

  /** Share of snippets and queries planted invalid. */
  val InvalidShare = 0.02

  /** `n` docket-entry / headnote snippets of 50-600 chars; about 2% are
    * empty or whitespace-only, which validation routes to text_too_short.
    */
  def snippets(seed: Long, n: Int): Vector[GenDoc] = {
    val r = new SplittableRandom(seed ^ 0x736e697070657473L)
    Vector.tabulate(n) { i =>
      val id = 1L + i
      if (r.nextDouble() < InvalidShare) {
        val blank = if (r.nextBoolean()) "" else " \n\t  ".take(1 + r.nextInt(5))
        GenDoc(id, blank, valid = false, 0)
      } else {
        val (text, sentences) = snippet(r, id)
        GenDoc(id, text, valid = true, sentences)
      }
    }
  }

  /** `n` search queries of 3-40 words; about 2% are planted invalid:
    * empty, or longer than the 1000-char query cap.
    */
  def queries(seed: Long, n: Int): Vector[GenQuery] = {
    val r = new SplittableRandom(seed ^ 0x7175657269657321L)
    Vector.fill(n) {
      if (r.nextDouble() < InvalidShare) {
        if (r.nextBoolean()) GenQuery("", valid = false)
        else {
          val sb = new StringBuilder
          while (sb.length <= 1000) sb.append(word(r)).append(' ')
          GenQuery(sb.toString.trim + " " + clause(r, 5), valid = false)
        }
      } else GenQuery(clause(r, 3 + r.nextInt(38)), valid = true)
    }
  }

  /** SHA-256 over ids and texts in generation order (hex, 16 chars). */
  def digest(docs: Seq[GenDoc]): String =
    hex(docs.iterator.map(d => s"${d.id}\u0000${d.text}\u0001"))

  def queryDigest(qs: Seq[GenQuery]): String =
    hex(qs.iterator.map(q => q.text + "\u0001"))

  private def hex(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(StandardCharsets.UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
