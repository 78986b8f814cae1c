package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import Directory.Entry

/** The in-repo ETL fixture (FIXTURES.md §7): a 25-row user table, the
  * changesets 01/02/04 and the eventlogs 01–04 as committed `;`-CSVs
  * in the `etl-fixture` resource directory, and the two-tree starting
  * state built from them at run time. The registered ETL queries, their
  * oracle SQL and the behaviour suites all read it through here; only
  * the byte-parity suites still read the reference checkout's golden
  * dumps.
  */
object Fixture {

  val ph08 = "ou=user,ou=ph08,o=BMUKK"
  val ph15 = "ou=user,ou=ph15,o=BMUKK"

  /** The uids the reference's system test removes from the database
    * before re-running initial_load (`deluids 4731 4732`).
    */
  val deletedUids: Seq[Double] = Seq(4731.0, 4732.0)

  /** ph08 load settings: fixed all-zero IV, so every dump is stable. */
  val conf: EtlConf = EtlConf(baseDn = ph08, cryptoIvHex = Some("0" * 32))

  private val files = Seq("initial_data.csv", "changeset01.csv",
    "changeset02.csv", "changeset04.csv", "eventlog01.csv",
    "eventlog02.csv", "eventlog03.csv", "eventlog04.csv")

  /** The fixture files, copied out of the `etl-fixture` resources (a
    * forked `runMain` sees them inside a jar) into a temp directory
    * named by their content hash. The directory is left in place: oracle
    * SQL names files under it and runs after the JVM exits.
    */
  lazy val dir: String = {
    val bytes = files.map { f =>
      val in = getClass.getResourceAsStream(s"/etl-fixture/$f")
      require(in != null, s"etl-fixture/$f is missing from the classpath")
      try f -> in.readAllBytes() finally in.close()
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
    bytes.foreach { case (_, b) => md5.update(b) }
    val hash = md5.digest().take(6).map(b => f"$b%02x").mkString
    val out = s"${sys.props("java.io.tmpdir")}/graft_etl_fixture_$hash"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    bytes.foreach { case (f, b) => Directory.writeAtomically(s"$out/$f", b) }
    out
  }

  def users(s: SparkSession): DataFrame =
    EtlSchema.readUsersCsv(s, s"$dir/initial_data.csv")

  /** Both trees loaded with the full user table, ph15 first, starting
    * from the bootstrap entries: the state ldapII.txt holds in the
    * reference's system test. Built once per session.
    */
  def twoTree(s: SparkSession): Dataset[Entry] =
    graft.Memo.frame(s, "etl-fixture two-tree", dir) {
      import s.implicits._
      val u = users(s)
      val boot = s.createDataset(Directory.bootstrapEntries(Seq(ph08, ph15)))
      val in15 = InitialLoad.run(boot, u, conf.copy(baseDn = ph15)).snapshot
      InitialLoad.run(in15, u, conf).snapshot.localCheckpoint(true)
    }

  /** Where `twoTreeDump` writes its text, for oracle SQL to read. */
  lazy val twoTreeDumpPath: String = s"$dir/two_tree.txt"

  /** `Directory.dump` of `twoTree`, also written to `twoTreeDumpPath`. */
  def twoTreeDump(s: SparkSession): String =
    graft.Memo.value("etl-fixture two-tree dump", dir) {
      val text = Directory.dump(twoTree(s))
      Directory.writeAtomically(twoTreeDumpPath, text.getBytes("UTF-8"))
      text
    }

  /** The reference system test's first step (test-compare:6–10): parse
    * the two-tree dump, drop `deletedUids` from the user table and
    * re-run initial_load on ph08. The sweep removes exactly those two
    * ph08 entries and the merge changes nothing else, so the result's
    * dump is the two-tree dump without their lines (ldap00.txt's role).
    */
  def deluidsLoad(s: SparkSession): InitialLoad.Result =
    InitialLoad.run(Directory.parseDump(s, twoTreeDump(s)),
      users(s).filter(!col("pk_uniqueid").isin(deletedUids: _*)), conf)
}
