package syncbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.Row
import graft.etl.EtlSchema

/** Seeded input generator: the user table before and after the change
  * (as one versioned table) and the eventlog, in the engine's own
  * schemas (`EtlSchema.userSchema`, `EtlSchema.eventSchema`).
  *
  * Versioning: every user row carries `_from`/`_to`; the table as of
  * version `v` is the rows with `_from <= v < _to`. Version 0 is the
  * state the prerequisite snapshot is loaded from. The changes behind
  * event chunk `k` become visible at version `k + 1`, so a poll loop
  * that appends chunk `k` and then runs a cycle against version `k + 1`
  * sees the database exactly as the triggers that wrote those events
  * left it.
  *
  * Every uid is changed at most once, at its first draw, and every
  * changed uid gets at least one event, so after the last chunk an
  * incremental sync must equal a full resync. Each event's verdict
  * follows from its uid's class alone (see `Kind`), which is what makes
  * the expected S/W/F counts exact.
  */
object Gen {
  val FirstUid = 4711L

  /** A uid's class, fixed at its first draw. Events on a `Dup` uid (two
    * user rows) are W ("Duplicate pk_uniqueid"); `Invalid` events fail
    * validation (F); every other event is S.
    */
  object Kind extends Enumeration {
    val Update, Rename, Password, Delete, Replay, Insert, Dup, Invalid = Value
  }

  /** The event mix: class probabilities of a base uid at its first draw,
    * and the shares of events that insert a new uid or are invalid, and
    * of base uids with two rows.
    *
    * No production eventlog is available, so these shares are assumed.
    * The changing classes keep the relative rates of the resync change
    * mix (attribute 2 : password 1 : rename 0.5 : delete 0.5 : new uid
    * 0.5), so about three quarters of the changing events are updates of
    * rows that really changed. The 12% replays and 4% duplicate-uid rows are
    * guesses; the 1% invalid events is the one share that was given.
    */
  private object Mix {
    val update = 0.44
    val password = 0.22
    val rename = 0.11
    val delete = 0.11
    val insertShare = 0.10
    val invalidShare = 0.01
    val dupShare = 0.04
  }

  case class Inputs(
      versions: Seq[Row],          // userSchema ++ (_from, _to)
      events: Seq[Row],            // eventSchema ++ (_chunk)
      expected: Map[Long, String], // record_id -> S / W / F
      chunks: Int,
      kinds: Map[Kind.Value, Int]) // events per class

  val versionFields: Seq[String] = Seq("_from", "_to")
  val chunkField = "_chunk"

  private val firstNames = Vector("Jürgen", "Anna", "Maximilian", "Sophie",
    "Lukas", "Hannah", "Jonas", "Lea", "Felix", "Lena", "Tobias", "Sarah",
    "Stefan", "Katharina", "Michael", "Özlem", "Ömer", "Zoë", "André",
    "Bärbel", "Günther", "Jörg", "Marlene", "Elisabeth", "Paul", "Theresa")
  private val lastNames = Vector("Müller", "Huber", "Gruber", "Wagner",
    "Pichler", "Moser", "Mayer", "Hofer", "Leitner", "Berger", "Fuchs",
    "Eder", "Fischer", "Schmid", "Winkler", "Weber", "Schwarz", "Maier",
    "Schneider", "Reiter", "Özdemir", "Größ", "Kärntner", "Bäuerle")
  private val functions = Vector("Lehrer", "Admin", "Mentor", "Direktor",
    "Sekretariat", "Student", "Praxislehrer")

  private def ascii(s: String): String =
    java.text.Normalizer.normalize(s.toLowerCase
      .replace("ä", "ae").replace("ö", "oe").replace("ü", "ue")
      .replace("ß", "ss"), java.text.Normalizer.Form.NFD)
      .replaceAll("[^a-z0-9]", "")

  private def hex(rnd: Random, n: Int): String =
    Iterator.fill(n)("0123456789abcdef"(rnd.nextInt(16))).mkString
  private def digits(rnd: Random, n: Int): String =
    Iterator.fill(n)(('0' + rnd.nextInt(10)).toChar).mkString
  private val alnumChars =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private def alnum(rnd: Random, n: Int): String =
    Iterator.fill(n)(alnumChars(rnd.nextInt(alnumChars.length))).mkString
  private def maybe[T](rnd: Random, p: Double)(v: => T): Any =
    if (rnd.nextDouble() < p) v else null
  private def char3(rnd: Random): Any = rnd.nextInt(3) match {
    case 0 => "J  "
    case 1 => "N  "
    case _ => null
  }
  private def status(rnd: Random): Any = rnd.nextInt(3) match {
    case 0 => "OK"
    case 1 => "GESPERRT"
    case _ => null
  }

  private val idx: Map[String, Int] = EtlSchema.userFields.zipWithIndex.toMap

  /** One user row, userSchema order. `cnSuffix` makes a second row of a
    * duplicate uid a different account.
    */
  def user(rnd: Random, uid: Long, cnSuffix: String = ""): Array[Any] = {
    val first = firstNames(rnd.nextInt(firstNames.size))
    val last = lastNames(rnd.nextInt(lastNames.size))
    val cn = s"${ascii(first)}.${ascii(last)}.$uid$cnSuffix"
    val r = new Array[Any](EtlSchema.userFields.size)
    def set(k: String, v: Any): Unit = r(idx(k)) = v
    set("person_nr_obf", hex(rnd, 16))
    set("st_person_nr_obf", maybe(rnd, 0.5)(hex(rnd, 16)))
    set("org_einheiten", maybe(rnd, 0.6)(s"OE${rnd.nextInt(400)}"))
    set("emailadresse_b", maybe(rnd, 0.4)(s"$cn@ph-noe.ac.at"))
    set("emailadresse_st", maybe(rnd, 0.7)(s"$cn@stud.ph-noe.ac.at"))
    set("bpk", java.util.Base64.getEncoder.encodeToString(
      hex(rnd, 20).getBytes("UTF-8")))
    set("pm_sap_personalnummer", maybe(rnd, 0.3)(digits(rnd, 8)))
    set("schulkennzahlen", maybe(rnd, 0.5)(
      Seq.fill(1 + rnd.nextInt(3))(s"9${digits(rnd, 5)}").mkString(";")))
    set("funktionen", maybe(rnd, 0.5)(
      rnd.shuffle(functions).take(1 + rnd.nextInt(2)).mkString(";")))
    set("pk_uniqueid", uid.toDouble)
    set("vorname", first)
    set("nachname", last)
    set("benutzername", cn)
    set("passwort", alnum(rnd, 10))
    set("benutzergruppen", Seq("ST", "B", "A")(rnd.nextInt(3)))
    set("aktiv_st_person", char3(rnd))
    set("aktiv_a_person", char3(rnd))
    set("aktiv_b_person", char3(rnd))
    Seq("chipid_b", "chipid_st", "chipid_a", "mirfareid_b", "mirfareid_st",
      "mirfareid_a").foreach(k => set(k, maybe(rnd, 0.1)(hex(rnd, 8))))
    set("matrikelnummer", maybe(rnd, 0.6)(digits(rnd, 8)))
    set("account_status_b", status(rnd))
    set("account_status_st", status(rnd))
    set("account_status_a", status(rnd))
    set("geburtsdatum", maybe(rnd, 0.8)(Timestamp.valueOf(
      f"${1950 + rnd.nextInt(55)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d 00:00:00")))
    set("person_nr", maybe(rnd, 0.5)((1000000L + rnd.nextInt(9000000)).toDouble))
    set("st_person_nr", maybe(rnd, 0.5)((2000000L + rnd.nextInt(9000000)).toDouble))
    set("ident_nr", (3000000L + uid).toDouble)
    r
  }

  /** A change that alters at least one synced attribute of `row`. */
  private def changed(rnd: Random, row: Array[Any]): Array[Any] = {
    val r = row.clone()
    def bump(k: String, fresh: => String): Unit = {
      val old = r(idx(k))
      var v = fresh
      if (v == old) v = v + "x"
      r(idx(k)) = v
    }
    rnd.nextInt(5) match {
      case 0 => bump("vorname", firstNames(rnd.nextInt(firstNames.size)))
      case 1 => bump("nachname", lastNames(rnd.nextInt(lastNames.size)))
      case 2 => bump("emailadresse_st", s"${r(idx("benutzername"))}.${rnd.nextInt(99)}@stud.ph-noe.ac.at")
      case 3 => bump("funktionen", rnd.shuffle(functions).take(1 + rnd.nextInt(3)).mkString(";"))
      case _ => bump("org_einheiten", s"OE${rnd.nextInt(400)}")
    }
    r
  }

  private def row(values: Array[Any], extra: Any*): Row = Row.fromSeq(values.toSeq ++ extra)

  private val epoch = Timestamp.valueOf("2024-03-01 08:00:00").getTime

  /** One eventlog row, eventSchema order plus `_chunk`. */
  def event(rid: Long, tableKey: String, eventType: Double, tableName: String,
      chunk: Int): Row =
    Row(rid.toDouble, tableKey, "N  ", eventType,
      new Timestamp(epoch + rid * 1000L), "TRIGGER", tableName,
      null, null, null, null, "N  ", "N  ", null, null, 0.0, "N  ", chunk)

  private val table = "benutzer_alle_dirxml_v"

  /** Zipf(s = 1) ranks over `n` items, by inverse-CDF lookup. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val open = Int.MaxValue

  /** A uid's rows as (_from, _to, values). */
  private type Rows = mutable.ArrayBuffer[(Int, Int, Array[Any])]

  /** Base rows (version 0): `users` rows, a `dupShare` of the uids with
    * a second row under another cn.
    */
  private def baseRows(rnd: Random, users: Int, dupShare: Double)
      : (mutable.LinkedHashMap[Long, Rows], Set[Long], Long) = {
    val rows = mutable.LinkedHashMap.empty[Long, Rows]
    val dups = Set.newBuilder[Long]
    var n = 0
    var uid = FirstUid
    while (n < users) {
      val rs = mutable.ArrayBuffer((0, open, user(rnd, uid)))
      if (rnd.nextDouble() < dupShare && n + 2 <= users) {
        rs += ((0, open, user(rnd, uid, ".d")))
        dups += uid
      }
      rows(uid) = rs
      n += rs.size
      uid += 1
    }
    (rows, dups.result(), uid)
  }

  /** Apply `kind`'s change to a single-row uid at version `v`. */
  private def applyChange(rnd: Random,
      rs: Rows, kind: Kind.Value,
      v: Int): Unit = {
    val (f, _, old) = rs.head
    def replaceWith(nv: Option[Array[Any]]): Unit = {
      rs(0) = (f, v, old)
      nv.foreach(x => rs += ((v, open, x)))
    }
    kind match {
      case Kind.Update => replaceWith(Some(changed(rnd, old)))
      case Kind.Rename =>
        val nv = old.clone()
        nv(idx("benutzername")) = s"${old(idx("benutzername"))}.r"
        replaceWith(Some(nv))
      case Kind.Password =>
        val nv = old.clone()
        nv(idx("passwort")) = s"${old(idx("passwort"))}!${rnd.nextInt(999)}"
        replaceWith(Some(nv))
      case Kind.Delete => replaceWith(None)
      case _ =>
    }
  }

  private def flatten(rows: mutable.LinkedHashMap[Long, Rows]): Vector[Row] =
    rows.valuesIterator.flatten.map { case (f, t, v) => row(v, f, t) }.toVector

  /** CDC inputs: `users` base rows (version 0), then `chunks` chunks of
    * `perChunk` events each. Uids are drawn uniformly, or Zipf-skewed
    * when `zipf` is set (the rank order is a seeded shuffle, so the hot
    * uids are not the low ones).
    */
  def cdc(seed: Long, users: Int, chunks: Int, perChunk: Int,
      zipf: Boolean): Inputs = {
    val mix = Mix
    val rnd = new Random(seed)
    val (rows, isDup, firstNew) = baseRows(rnd, users, mix.dupShare)
    var nextUid = firstNew
    val order = rnd.shuffle(rows.keys.toVector)
    val z = if (zipf) Some(new Zipf(order.size)) else None
    def draw(): Long = order(z.map(_.draw(rnd)).getOrElse(rnd.nextInt(order.size)))

    val kindOf = mutable.Map.empty[Long, Kind.Value]
    val events = Vector.newBuilder[Row]
    val expected = Map.newBuilder[Long, String]
    val kinds = mutable.Map.empty[Kind.Value, Int].withDefaultValue(0)
    var rid = 1000000L
    for (k <- 0 until chunks; _ <- 0 until perChunk) {
      rid += 1
      val p = rnd.nextDouble()
      val (ev, verdict, kind) =
        if (p < mix.invalidShare) {
          val bad = rid % 3 match {
            case 0 => event(rid, s"pk_uniqueid=${draw()}", 7.0, table, k)
            case 1 => event(rid, s"pk_uniqueid=${draw()}", 6.0, "benutzer_alt", k)
            case _ => event(rid, s"pk_uniqueid=x${rid % 997}", 6.0, table, k)
          }
          (bad, "F", Kind.Invalid)
        } else if (p < mix.invalidShare + mix.insertShare) {
          val u = nextUid
          nextUid += 1
          rows(u) = mutable.ArrayBuffer((k + 1, open, user(rnd, u)))
          kindOf(u) = Kind.Insert
          (event(rid, s"pk_uniqueid=$u", 5.0, table, k), "S", Kind.Insert)
        } else {
          val u = draw()
          val first = !kindOf.contains(u)
          if (first) {
            val q = rnd.nextDouble()
            val kind =
              if (isDup(u)) Kind.Dup
              else if (q < mix.update) Kind.Update
              else if (q < mix.update + mix.rename) Kind.Rename
              else if (q < mix.update + mix.rename + mix.password) Kind.Password
              else if (q < mix.update + mix.rename + mix.password + mix.delete) Kind.Delete
              else Kind.Replay
            kindOf(u) = kind
            applyChange(rnd, rows(u), kind, k + 1)
          }
          val kind = kindOf(u)
          val e = event(rid, s"pk_uniqueid=$u", if (kind == Kind.Delete) 4.0 else 6.0, table, k)
          // a later event on an already-changed uid replays it
          val evKind = if (first || kind == Kind.Dup) kind else Kind.Replay
          (e, if (kind == Kind.Dup) "W" else "S", evKind)
        }
      events += ev
      expected += rid -> verdict
      kinds(kind) += 1
    }
    Inputs(flatten(rows), events.result(), expected.result(), chunks, kinds.toMap)
  }
}
