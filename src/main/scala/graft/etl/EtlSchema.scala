package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source schemas + source→directory attribute mapping for the CDC sync
  * engine (SURVEY.md §1.3).
  *
  * The reference declares these in triplicate (field tuples
  * etl.py:211–264, DDL testdriver.py:12–66, rename map etl.py:266–299);
  * here they live once, as data, and the conversion registry is a map of
  * native `Column` transformations (SURVEY.md §2.10) — no row UDFs.
  */
object EtlSchema {

  /** benutzer_alle_dirxml_v columns, reference order (etl.py:211–245). */
  val userFields: Seq[String] = Seq(
    "person_nr_obf", "st_person_nr_obf", "org_einheiten", "emailadresse_b",
    "emailadresse_st", "bpk", "pm_sap_personalnummer", "schulkennzahlen",
    "funktionen", "pk_uniqueid", "vorname", "nachname", "benutzername",
    "passwort", "benutzergruppen", "aktiv_st_person", "aktiv_a_person",
    "aktiv_b_person", "chipid_b", "chipid_st", "chipid_a", "mirfareid_b",
    "mirfareid_st", "mirfareid_a", "matrikelnummer", "account_status_b",
    "account_status_st", "account_status_a", "geburtsdatum", "person_nr",
    "st_person_nr", "ident_nr")

  /** eventlog_ph columns (etl.py:246–264). */
  val eventFields: Seq[String] = Seq(
    "record_id", "table_key", "status", "event_type", "event_time",
    "perpetrator", "table_name", "column_name", "old_value", "new_value",
    "synch_id", "synch_online_flag", "transaction_flag", "read_time",
    "error_message", "attempt", "admin_notify_flag")

  /** Source column → LDAP attribute (etl.py:266–299). */
  val odbcToLdap: Map[String, String] = Map(
    "account_status_a" -> "phonlineAccStWeiterbildung",
    "account_status_b" -> "phonlineAccStBediensteter",
    "account_status_st" -> "phonlineAccStStudent",
    "aktiv_a_person" -> "phonlineWeiterbildungAktiv",
    "aktiv_b_person" -> "phonlineBediensteterAktiv",
    "aktiv_st_person" -> "phonlineStudentAktiv",
    "benutzergruppen" -> "phonlineBenutzergruppe",
    "benutzername" -> "cn",
    "bpk" -> "phonlineBPK",
    "chipid_a" -> "phonlineChipIDWeiterbildung",
    "chipid_b" -> "phonlineChipIDBediensteter",
    "chipid_st" -> "phonlineChipIDStudent",
    "emailadresse_b" -> "phonlineEmailBediensteter",
    "emailadresse_st" -> "phonlineEmailStudent",
    "funktionen" -> "phonlineFunktionen",
    "geburtsdatum" -> "phonlineGebDatum",
    "ident_nr" -> "phonlineIdentNr",
    "matrikelnummer" -> "phonlineMatrikelnummer",
    "mirfareid_a" -> "phonlineMirfareIDWeiterbildung",
    "mirfareid_b" -> "phonlineMirfareIDBediensteter",
    "mirfareid_st" -> "phonlineMirfareIDStudent",
    "nachname" -> "sn",
    "org_einheiten" -> "phonlineOrgEinheiten",
    "passwort" -> "idnDistributionPassword",
    "person_nr" -> "phonlinePersonNr",
    "person_nr_obf" -> "phonlinePersonNrOBF",
    "pk_uniqueid" -> "phonlineUniqueId",
    "pm_sap_personalnummer" -> "phonlineSapPersnr",
    "schulkennzahlen" -> "phonlineSchulkennzahlen",
    "st_person_nr" -> "phonlinePersonNrStudent",
    "st_person_nr_obf" -> "phonlinePersonNrOBFStudent",
    "vorname" -> "givenName")

  /** Conversion registry (etl.py:301–315); password handled separately. */
  val numberCols = Seq("pk_uniqueid", "ident_nr", "person_nr", "st_person_nr")
  val multiCols = Seq("funktionen", "schulkennzahlen")
  val rstripCols = Seq("emailadresse_b", "emailadresse_st", "vorname",
    "nachname", "pm_sap_personalnummer")
  val stripCols = Seq("benutzername")
  val dateCols = Seq("geburtsdatum")

  /** CHAR(3) columns — space-padded, padding significant in goldens
    * (testdriver.py:13–46, FIXTURES.md).
    */
  val char3UserCols = Seq("aktiv_st_person", "aktiv_a_person", "aktiv_b_person")
  val char3EventCols = Seq("status", "synch_online_flag", "transaction_flag",
    "admin_notify_flag")

  /** Account-status / active-flag attribute groups (etl.py:321–333). */
  val accStatus = Seq("phonlineAccStBediensteter", "phonlineAccStStudent",
    "phonlineAccStWeiterbildung")
  val accActive = Seq("phonlineWeiterbildungAktiv", "phonlineBediensteterAktiv",
    "phonlineStudentAktiv")

  /** Columns never written through to ph15 by the normal flow
    * (etl.py:334–338).
    */
  val notSyncedPh15 = Set("emailadresse_st")

  private def doubleT(n: String) = StructField(n, DoubleType)
  private def stringT(n: String) = StructField(n, StringType)
  private def tsT(n: String) = StructField(n, TimestampType)

  val userSchema: StructType = StructType(userFields.map {
    case n if numberCols.contains(n) => doubleT(n)
    case n if dateCols.contains(n) => tsT(n)
    case n => stringT(n)
  })

  val eventSchema: StructType = StructType(eventFields.map {
    case n @ ("record_id" | "event_type" | "synch_id" | "attempt") => doubleT(n)
    case n @ ("event_time" | "read_time") => tsT(n)
    case n => stringT(n)
  })

  /** The reference CSV fixture format: `;`-delimited, header, UTF-8,
    * empty ≡ NULL (testdriver.py:179–193). The batch reader below and the
    * streaming CDC reader (`CdcStream.startStreaming`) both read it.
    */
  val csvOptions: Map[String, String] = Map(
    "header" -> "true",
    "delimiter" -> ";",
    "nullValue" -> "",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss")

  /** `char3` columns re-padded as the test database stores CHAR(3). */
  def padChar3(df: DataFrame, char3: Seq[String]): DataFrame =
    char3.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c).isNotNull, rpad(col(c), 3, " "))))

  private def readCsv(spark: SparkSession, path: String, schema: StructType,
      char3: Seq[String]): DataFrame =
    padChar3(spark.read.options(csvOptions).schema(schema).csv(path), char3)

  def readUsersCsv(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, userSchema, char3UserCols)

  def readEventsCsv(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, eventSchema, char3EventCols)
}
