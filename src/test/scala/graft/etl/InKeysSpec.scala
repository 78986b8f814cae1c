package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import Directory.Entry

/** `Cdc.inKeys`, the hash-set key filter of the CDC chunk's queries:
  * the same answers as a literal list, and a plan whose size does not
  * grow with the keys.
  */
class InKeysSpec extends AnyFunSuite {

  test("inKeys answers as isInCollection does") {
    val spark = TestSpark.spark
    val values = Seq(null, "", "cn", "CN", "Cn", "müller", "MÜLLER", "ß", "東京", "x y")
    val df = spark.createDataFrame(java.util.Arrays.asList(values.map(Row(_)): _*),
      StructType(Seq(StructField("v", StringType))))
    val keySets = Seq(
      Seq.empty[String],
      Seq("cn"),                        // keys that differ only in case
      Seq("CN", "Cn"),
      Seq("müller", "東京", "ss"),       // non-ASCII keys; ß is not ss
      Seq("", "x y", "MÜLLER"),
      (1 to 50).map(i => s"k$i") :+ "ß") // over the optimizer's IN-to-set size
    for (keys <- keySets) {
      val got = df.select(col("v"), Cdc.inKeys(col("v"), keys).as("in"),
        col("v").isInCollection(keys).as("lit")).collect()
      got.foreach(r => assert(r.get(1) == r.get(2), s"keys $keys, row $r"))
    }
  }

  test("a touchedEntries filter's plan has as many expression nodes at 10 as at 10,000 keys") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snap = spark.emptyDataset[Entry]
    def nodes(n: Int): Int = {
      val keys = (1 to n).map(i => s"k$i")
      val filter = Cdc.touchedBy(keys, keys, Some(Fixture.ph15)).get
      snap.filter(filter).queryExecution.analyzed
        .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    }
    assert(nodes(10) == nodes(10000), (nodes(10), nodes(10000)))
  }
}
