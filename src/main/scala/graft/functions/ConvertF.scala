package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar conversion functions — SURVEY.md §2.7 (F1–F12; F6, the
  * password cipher, is `graft.etl.Aes`).
  *
  * Each mirrors a per-column converter of the reference engine
  * (reference: etl.py:156–320, ldaptest.py:142–195,
  * ldaptimestamp.py:29–33) re-expressed as a native, codegen-friendly
  * Spark `Column` expression — no UDFs, so every one of these stays
  * inside whole-stage codegen and is pushdown-transparent.
  */
object ConvertF {

  /** F1 — timestamp → `yyyy-MM-dd HH:mm:ss` + literal ".0" suffix;
    * null-safe (reference etl.py:156–165 formats DB dates with a
    * hard-coded fractional part).
    */
  def fromDbDate(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(concat(date_format(c, "yyyy-MM-dd HH:mm:ss"), lit(".0")))

  /** F2 — numeric id (double) → integer string (`4714.0` → "4714");
    * null-safe (reference etl.py:167–171 does `str(int(item))`).
    * Truncation toward zero, exactly like Python's int().
    */
  def fromDbNumber(c: Column): Column =
    c.cast("long").cast("string")

  /** F3 — rstrip, empty ⇒ NULL (attribute omitted); reference
    * etl.py:173–186.
    */
  def fromDbRstrip(c: Column): Column = nullif(rtrim(c), lit(""))

  /** F3b — strip variant; reference etl.py:188–195. */
  def fromDbStrip(c: Column): Column = nullif(trim(c), lit(""))

  /** F4 — `;`-packed multi-value → array; empty ⇒ NULL; reference
    * etl.py:197–207.
    */
  def fromMulti(c: Column): Column =
    when(c.isNull || trim(c) === "", lit(null).cast("array<string>"))
      .otherwise(split(trim(c), ";"))

  /** F5 — canonicalize a `;`-packed multi-value by sorting its parts
    * (reference ldaptest.py:164–170 `multival_fixup`).
    */
  def multivalFixup(c: Column): Column =
    array_join(array_sort(split(c, ";")), ";")

  /** F7 — LDAP GeneralizedTime `yyyyMMddHHmmssZ` in UTC (reference
    * ldaptimestamp.py:29–33).
    */
  def generalizedTime(c: Column): Column =
    date_format(c, "yyyyMMddHHmmss'Z'")

  /** F8 — parse `"pk_uniqueid=4714"` → long key value, NULL when the
    * prefix or the numeric part is malformed (reference etl.py:624–652
    * routes failures to status 'F' instead of raising). Python's int()
    * tolerates surrounding whitespace and a sign — so does this (same
    * acceptance as the Cdc validation, which needs the granular
    * per-failure messages and therefore tests the pieces itself).
    */
  def tableKeyParse(c: Column, keyName: String = "pk_uniqueid"): Column = {
    val v = split(c, "=", 2).getItem(1)
    when(c.startsWith(s"$keyName=") &&
      coalesce(v.rlike("^\\s*[+-]?[0-9]+\\s*$"), lit(false)),
      v.cast("long"))
  }

  /** F9 — event_type decode {4→delete, 5→insert, 6→update}, else NULL
    * (reference etl.py:316–320).
    */
  def eventTypeDecode(c: Column): Column =
    when(c === 4, "delete").when(c === 5, "insert").when(c === 6, "update")

  /** F10 — DN algebra: build `cn=<cn>,<base>` (reference etl.py:79–81). */
  def buildDn(cn: Column, base: Column): Column =
    concat(lit("cn="), cn, lit(","), base)

  /** F10 — `short_dn`: strip the base suffix and lowercase, for
    * order-stable tree compare (reference ldaptest.py:142–146).
    */
  def shortDn(dn: Column, baseSuffix: String): Column =
    lower(regexp_replace(dn, java.util.regex.Pattern.quote("," + baseSuffix) + "$", ""))

  /** F10 — substitute tree root (ph0X → ph15 write-through, reference
    * etl.py:1222–1227).
    */
  def translateDn(dn: Column, from: String, to: String): Column =
    regexp_replace(dn, java.util.regex.Pattern.quote(from) + "$",
      java.util.regex.Matcher.quoteReplacement(to))

  /** F11 — CHAR(3) semantics: values like `'J  '` keep their padding;
    * comparisons trim (reference etl.py:500–502 compares `!= 'N'` on
    * trimmed value).
    */
  def char3Eq(c: Column, v: String): Column = rtrim(c) === v

  /** F12 — hex / base64 encodes (reference anonymize.py:136,154–158). */
  def hexEnc(c: Column): Column = lower(hex(c))
  def b64Enc(c: Column): Column = base64(c.cast("binary"))
}
