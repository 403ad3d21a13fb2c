package graft.etl

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** R26 name qualification + R27 backend factory dispatch.
  * Reference: src/DatabaseAgent.php:53-61 (schema/tablePrefix fields),
  * src/DatabaseAgentMysql.php:308-315 (quotedFullyQualifiedTableName),
  * src/DatabaseAgent.php:70-81 (agentForPdo driver dispatch).
  */
class TableNamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("qualifiedName/Path: prefix prepends, schema adds a level") {
    val n = TableNaming(Some("analytics"), Some("etl_"))
    assert(n.qualifiedName("people") == "analytics.etl_people")
    assert(n.qualifiedPath("people") == "analytics/etl_people")
    assert(TableNaming(None, Some("p_")).qualifiedPath("t") == "p_t")
    assert(TableNaming(Some("s"), None).qualifiedName("t") == "s.t")
    assert(TableNaming.none.qualifiedPath("t") == "t")
  }

  test("validated(): rejects separators, traversal, and empty names") {
    val n = TableNaming.none
    intercept[IllegalArgumentException](n.qualifiedPath("a/b"))
    intercept[IllegalArgumentException](n.qualifiedPath("a\\b"))
    intercept[IllegalArgumentException](n.qualifiedPath(".."))
    intercept[IllegalArgumentException](n.qualifiedPath(""))
    intercept[IllegalArgumentException](
      TableNaming(Some("x/y"), None).qualifiedPath("t"))
  }

  test("validated(): rejects reserved .tmp/.old staging suffixes") {
    val n = TableNaming.none
    intercept[IllegalArgumentException](n.qualifiedPath("jobs.tmp"))
    intercept[IllegalArgumentException](n.qualifiedPath("jobs.old"))
    // a prefix that lands on the suffix is caught after concatenation too
    intercept[IllegalArgumentException](
      TableNaming(None, Some("x")).qualifiedPath("y.old"))
    assert(n.qualifiedPath("jobs_tmp") == "jobs_tmp") // only the dot-suffix is reserved
  }

  test("forUrl: memory/parquet/bare-path/filesystem-scheme dispatch") {
    assert(MetaStorage.forUrl(spark, "memory").isInstanceOf[InMemoryMetaStorage])
    assert(MetaStorage.forUrl(spark, "memory:").isInstanceOf[InMemoryMetaStorage])
    assert(MetaStorage.forUrl(spark, "parquet:/tmp/wh")
      .isInstanceOf[SnapshotMetaStorage])
    assert(MetaStorage.forUrl(spark, "/tmp/wh").isInstanceOf[SnapshotMetaStorage])
    // Hadoop filesystem schemes route straight to the snapshot backend —
    // no parquet: prefix needed for a remote warehouse root.
    for (u <- Seq("hdfs://nn:8020/wh", "s3a://bucket/wh", "file:/tmp/wh"))
      assert(MetaStorage.forUrl(spark, u).isInstanceOf[SnapshotMetaStorage], u)
    val e = intercept[IllegalArgumentException](
      MetaStorage.forUrl(spark, "jdbc:mysql://db/wh"))
    assert(e.getMessage.contains("Unexpected driver: jdbc"))
  }

  test("forUrl threads naming into the snapshot backend") {
    val s = MetaStorage.forUrl(spark, "parquet:/tmp/wh",
      TableNaming(Some("sch"), Some("p_"))).asInstanceOf[SnapshotMetaStorage]
    assert(s.tablePath("t") == "/tmp/wh/sch/p_t")
  }

  test("EtlMain.parseArgs splits positional args and --flag pairs") {
    val (pos, flags) = EtlMain.parseArgs(
      Array("src", "cfg.json", "wh", "--schema", "s1", "--prefix", "p_"))
    assert(pos == Seq("src", "cfg.json", "wh"))
    assert(flags == Map("schema" -> "s1", "prefix" -> "p_"))
    intercept[IllegalArgumentException](EtlMain.parseArgs(Array("a", "--meta")))
    val e = intercept[IllegalArgumentException](
      EtlMain.parseArgs(Array("a", "--shcema", "x"))) // typo must not be ignored
    assert(e.getMessage.contains("Unknown flag --shcema"))
  }

  test("EtlMain.parseArgs rejects flags that cannot take effect together") {
    def refused(args: String*): String =
      intercept[IllegalArgumentException](EtlMain.parseArgs(args.toArray))
        .getMessage
    assert(refused("a", "--compact-every", "2").contains("--stream"))
    assert(refused("a", "--compact", "all", "--stream", "ck")
      .contains("cannot be combined"))
    assert(refused("a", "--compact", "all", "--stream", "ck",
      "--compact-every", "2").contains("cannot be combined"))
    assert(refused("a", "--stream", "ck", "--compact-every", "two")
      .contains("positive integer, got two"))
    assert(refused("a", "--stream", "ck", "--compact-every", "0")
      .contains("positive integer, got 0"))
    // the combinations that do take effect still parse
    assert(EtlMain.parseArgs(Array("a", "--stream", "ck", "--compact-every", "3"))
      ._2 == Map("stream" -> "ck", "compact-every" -> "3"))
    assert(EtlMain.parseArgs(Array("a", "--compact", "all"))._2 ==
      Map("compact" -> "all"))
  }
}
