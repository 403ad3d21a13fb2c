package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Counts `read` and `replace` calls per accounting table. */
private final class CountingMetaStorage(inner: MetaStorage) extends MetaStorage {
  val reads = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  val replaces = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  override def exists(table: String): Boolean = inner.exists(table)
  override def read(table: String, schema: StructType): DataFrame = {
    reads(table) += 1
    inner.read(table, schema)
  }
  override def replace(table: String, df: DataFrame): Unit = {
    replaces(table) += 1
    inner.replace(table, df)
  }
}

/** Stands in for a process crash: once `jobReplacesLeft` reaches 0, a
  * `__meta_etl_jobs` replace throws before it writes anything.
  */
private final class CrashingMetaStorage(inner: MetaStorage) extends MetaStorage {
  var jobReplacesLeft = Int.MaxValue
  override def exists(table: String): Boolean = inner.exists(table)
  override def read(table: String, schema: StructType): DataFrame = inner.read(table, schema)
  override def replace(table: String, df: DataFrame): Unit = {
    if (table == "__meta_etl_jobs") {
      if (jobReplacesLeft == 0) throw new IllegalStateException("crash at __meta_etl_jobs replace")
      jobReplacesLeft -= 1
    }
    inner.replace(table, df)
  }
}

/** End-to-end: fixture grids → discovery → load → target + accounting
  * contents (SURVEY.md §5.3 item 2).
  *
  * Every pipeline test runs against BOTH accounting backends (R27 —
  * mirroring the reference's sqlite-vs-mysql agent duality,
  * src/DatabaseAgent.php:70-81, and its sqlite unit test
  * tests/DatabaseAgentSqliteTest.php:17-30): the durable parquet
  * [[SnapshotMetaStorage]] and the driver-held [[InMemoryMetaStorage]],
  * both constructed through the [[MetaStorage.forUrl]] factory.
  */
class EtlPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val Sid = "1b33RL2nQJxdaHYxVmkk4lo3K1IKjSD3_ggnokrZCkx8"
  private val Sid2 = "2c44SM3oRKyebIZyWnll5mp4L2JLkTE4_hhopsaDlY99"
  private val Sid3 = "3d55TN4pSLzfcJaZWomm6nq5M3KMmUF5_iipqtbEmZ00"

  private def writeFixture(dir: Path, file: String, id: String, sheet: String,
      modified: String, values: Seq[Seq[String]]): Unit = {
    def jarr(ss: Seq[String]) = ss.map(s =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
    val json = s"""{"spreadsheetId":"$id","sheetName":"$sheet",
      |"modifiedTime":"$modified","name":"fixture $id",
      |"values":${values.map(jarr).mkString("[", ",", "]")}}""".stripMargin
    Files.writeString(dir.resolve(file), json)
  }

  private val people = Seq(
    Seq("Name ", "Émail Address", "Status", "Status", "#"),
    Seq("Alice", " alice@example.com", "DONE", "x"),
    Seq("Bob", "bob@example.com"),
    Seq("", "  ", "active", "y", "7"))

  private val peopleCfg = EtlConfig(Sid, "2019 Expirations", "renewals_2019",
    Seq("name" -> Right("Name"), "email" -> Right("Émail Address"), "flag" -> Left(3)))

  private val zoeCfg = EtlConfig(Sid2, "Sheet1", "zoe", Seq("name" -> Right("Name")))

  private def writeZoe(dir: Path, modified: String = "2026-05-04T00:00:00.000Z",
      name: String = "Zoe"): Unit =
    writeFixture(dir, "b.json", Sid2, "Sheet1", modified, Seq(Seq("Name"), Seq(name)))

  private def metaUrl(backend: String, wh: String): String = backend match {
    case "snapshot" => s"parquet:$wh/meta"
    case "memory"   => "memory:"
  }

  private def freshWorld(backend: String, wrap: MetaStorage => MetaStorage = identity)
      : (Path, Tasks, MetaStore, TargetStore) = {
    val dir = Files.createTempDirectory("graft-fixtures")
    val wh = Files.createTempDirectory("graft-wh").toString
    writeFixture(dir, "a.json", Sid, "2019 Expirations", "2026-05-01T12:00:00.000Z", people)
    val meta = new MetaStore(spark, wrap(MetaStorage.forUrl(spark, metaUrl(backend, wh))))
    val targets = new TargetStore(spark, s"$wh/tables")
    meta.setUpAccounting()
    meta.setUpAccounting() // idempotent (R25)
    val tasks = new Tasks(new LocalGridSource(dir.toString), meta, targets, loadTime = 1746100000L)
    tasks.setConfiguration(Seq(peopleCfg))
    (dir, tasks, meta, targets)
  }

  for (backend <- Seq("snapshot", "memory")) {

    test(s"[$backend] full run loads the FIXTURES.md §4 expected target") {
      val (_, tasks, meta, targets) = freshWorld(backend)
      assert(meta.getGreatestModified().isEmpty) // empty → None (R14)
      assert(meta.getOldestSeen().isEmpty)       // empty → None (R15)
      assert(tasks.verifyOldestSpreadsheet())    // vacuous true (R30)

      assert(tasks.findSomeUpdatedSpreadsheets() == 1)
      assert(meta.getGreatestModified().contains(("2026-05-01T12:00:00.000Z", Sid)))
      val loaded = tasks.loadSomeUpdatedSpreadsheets()
      assert(loaded.map(_.sheetName) == Seq("2019 Expirations"))

      val rows = targets.read("renewals_2019")
        .orderBy("_origin_row")
        .select("_origin_etl_job_id", "_origin_row", "name", "email", "flag")
        .collect().toSeq
      assert(rows == Seq(
        Row(1L, 0L, "Alice", "alice@example.com", "x"),
        Row(1L, 1L, "Bob", "bob@example.com", null),
        Row(1L, 2L, "", "", "y")))
    }

    test(s"[$backend] second run is a no-op (R16 filter + R21 hash skip); reload on change replaces rows") {
      val (dir, tasks, meta, targets) = freshWorld(backend)
      tasks.findSomeUpdatedSpreadsheets()
      tasks.loadSomeUpdatedSpreadsheets()

      // up-to-date ⇒ the R16 filter drops the job
      assert(tasks.loadSomeUpdatedSpreadsheets().isEmpty)

      // bump modifiedTime but keep content ⇒ job re-runs, hash-skips the write
      writeFixture(dir, "a.json", Sid, "2019 Expirations", "2026-05-02T00:00:00.000Z", people)
      tasks.findSomeUpdatedSpreadsheets()
      val before = targets.read("renewals_2019").collect().toSet
      assert(tasks.loadSomeUpdatedSpreadsheets().size == 1)
      assert(targets.read("renewals_2019").collect().toSet == before)

      // content change with FEWER rows ⇒ partition overwrite shrinks the table
      writeFixture(dir, "a.json", Sid, "2019 Expirations", "2026-05-03T00:00:00.000Z",
        people.take(2))
      tasks.findSomeUpdatedSpreadsheets()
      tasks.loadSomeUpdatedSpreadsheets()
      val after = targets.read("renewals_2019").orderBy("_origin_row").collect().toSeq
      assert(after.map(_.getAs[Long]("_origin_row")) == Seq(0L))
      assert(after.head.getAs[String]("name") == "Alice")
    }

    test(s"[$backend] additive schema evolution across jobs in one target (R18)") {
      val (dir, tasks, meta, targets) = freshWorld(backend)
      writeFixture(dir, "b.json", Sid2, "Sheet1", "2026-05-04T00:00:00.000Z", Seq(
        Seq("Name", "Extra"),
        Seq("Zoe", "z1")))
      tasks.setConfiguration(Seq(peopleCfg,
        EtlConfig(Sid2, "Sheet1", "renewals_2019",
          Seq("name" -> Right("Name"), "extra" -> Right("Extra")))))
      tasks.findSomeUpdatedSpreadsheets()
      tasks.loadSomeUpdatedSpreadsheets()
      val df = targets.read("renewals_2019")
      assert(Set("name", "email", "flag", "extra").subsetOf(df.columns.toSet))
      val zoe = df.filter(df("name") === "Zoe").collect().head
      assert(zoe.getAs[String]("extra") == "z1" && zoe.getAs[String]("email") == null)
      val alice = df.filter(df("name") === "Alice").collect().head
      assert(alice.getAs[String]("extra") == null) // old partition: new col is null
    }

    test(s"[$backend] upsert last-writer-wins keeps ids stable (R17)") {
      val (_, _, meta, _) = freshWorld(backend)
      meta.setSpreadsheetsSeen(Seq(
        SpreadsheetMeta("X1", "2026-01-01T00:00:00Z", "one"),
        SpreadsheetMeta("X2", "2026-01-02T00:00:00Z", "two")), 100L)
      val id1 = meta.spreadsheetIdOf("X1")
      meta.setSpreadsheetsSeen(Seq(
        SpreadsheetMeta("X1", "2026-02-01T00:00:00Z", "one-renamed"),
        SpreadsheetMeta("X3", "2026-01-03T00:00:00Z", "three")), 200L)
      assert(meta.spreadsheetIdOf("X1") == id1)
      // new keys get max(id) + rank in google_spreadsheet_id order
      assert(Seq("X1", "X2", "X3").map(meta.spreadsheetIdOf) == Seq(1L, 2L, 3L))
      val x1 = meta.spreadsheets.filter(_.google_spreadsheet_id == "X1").collect().head
      assert(x1.google_modified == "2026-02-01T00:00:00Z")
      assert(x1.google_spreadsheet_name == "one-renamed" && x1.last_seen == 200L)
      assert(meta.spreadsheets.count() == 3)
      assert(meta.spreadsheets.collect().map(_.id).distinct.length == 3)
      assert(meta.getOldestSeen().contains("X2")) // last_seen=100, tie-broken by id
    }

    test(s"[$backend] a configured spreadsheet loads on the tick that discovers it") {
      val (dir, tasks, _, targets) = freshWorld(backend)
      writeZoe(dir)
      tasks.setConfiguration(Seq(zoeCfg, peopleCfg))
      // a one-spreadsheet page discovers only the older Sid; Sid2 waits
      assert(tasks.findSomeUpdatedSpreadsheets(1) == 1)
      assert(tasks.loadSomeUpdatedSpreadsheets() == Seq(peopleCfg))
      // the `>=` keyset re-lists the cursor's own spreadsheet, so the next
      // page needs room for one more to reach Sid2
      assert(tasks.findSomeUpdatedSpreadsheets(2) == 2)
      assert(tasks.loadSomeUpdatedSpreadsheets() == Seq(zoeCfg))
      assert(targets.read("zoe").select("name").collect().map(_.getString(0)).toSeq == Seq("Zoe"))
    }

    test(s"[$backend] __meta_etl_jobs replaces per tick: 2 cold, 1 reload, 0 idle") {
      var storage: CountingMetaStorage = null
      val (dir, tasks, meta, _) = freshWorld(backend, s => { storage = new CountingMetaStorage(s); storage })
      // one tick: (sheets loaded, __meta_etl_jobs replaces)
      def tick(): (Int, Int) = {
        val before = storage.replaces(meta.EtlJobsTable)
        tasks.findSomeUpdatedSpreadsheets()
        val loaded = tasks.loadSomeUpdatedSpreadsheets()
        tasks.verifyOldestSpreadsheet()
        (loaded.size, storage.replaces(meta.EtlJobsTable) - before)
      }
      assert(tick() == ((1, 2))) // new sheet: job row before the load + commit after
      assert(tick() == ((0, 0))) // idle
      // touch only: the hash gate skips the data write; the commit alone writes
      writeFixture(dir, "a.json", Sid, "2019 Expirations", "2026-05-02T00:00:00.000Z", people)
      assert(tick() == ((1, 1)))
    }

    test(s"[$backend] a load phase reads each accounting table once, commits once") {
      var storage: CountingMetaStorage = null
      val (dir, tasks, meta, _) = freshWorld(backend, s => { storage = new CountingMetaStorage(s); storage })
      writeZoe(dir)
      writeFixture(dir, "c.json", Sid3, "Sheet1", "2026-05-05T00:00:00.000Z", Seq(Seq("Name"), Seq("Yan")))
      tasks.setConfiguration(Seq(peopleCfg, zoeCfg,
        EtlConfig(Sid3, "Sheet1", "yan", Seq("name" -> Right("Name")))))
      val tables = Seq(meta.SpreadsheetsTable, meta.EtlJobsTable)
      // one tick: (sheets loaded, load-phase reads per table, load-phase
      // __meta_etl_jobs replaces)
      def tick(): (Int, Seq[Int], Int) = {
        tasks.findSomeUpdatedSpreadsheets()
        val reads = tables.map(storage.reads)
        val replaces = storage.replaces(meta.EtlJobsTable)
        val loaded = tasks.loadSomeUpdatedSpreadsheets()
        (loaded.size, tables.map(storage.reads).zip(reads).map { case (a, b) => a - b },
          storage.replaces(meta.EtlJobsTable) - replaces)
      }
      assert(tick() == ((3, Seq(1, 1), 2))) // cold: job rows, then one commit
      writeZoe(dir, "2026-05-06T00:00:00.000Z", "Zed")
      writeFixture(dir, "c.json", Sid3, "Sheet1", "2026-05-06T00:00:00.000Z", Seq(Seq("Name"), Seq("Yul")))
      assert(tick() == ((2, Seq(1, 1), 1))) // two reloads: one commit
      assert(tick() == ((0, Seq(1, 1), 0))) // idle
    }

    test(s"[$backend] a load that throws part way commits the sheets before it") {
      val (dir, tasks, meta, targets) = freshWorld(backend)
      writeZoe(dir)
      tasks.setConfiguration(Seq(peopleCfg,
        zoeCfg.copy(columnMapping = Seq("name" -> Right("Nope")))))
      tasks.findSomeUpdatedSpreadsheets()
      val e = intercept[IllegalArgumentException] { tasks.loadSomeUpdatedSpreadsheets() }
      assert(e.getMessage.contains("Required column not found: Nope"))
      assert(e.getMessage.contains(s"https://docs.google.com/spreadsheets/d/$Sid2"))
      val bySheet = meta.etlJobs.collect().map(j => j.sheet_name -> j).toMap
      val people = bySheet("2019 Expirations")
      assert(people.raw_columns_rows_hash ==
        new LocalGridSource(dir.toString).grid(Sid, "2019 Expirations").hash)
      assert(people.google_modified == "2026-05-01T12:00:00.000Z")
      assert(bySheet("Sheet1").raw_columns_rows_hash == "") // row written, never committed

      tasks.setConfiguration(Seq(peopleCfg, zoeCfg))
      tasks.findSomeUpdatedSpreadsheets()
      assert(tasks.loadSomeUpdatedSpreadsheets() == Seq(zoeCfg))
      assert(targets.read("zoe").select("name").collect().map(_.getString(0)).toSeq == Seq("Zoe"))
    }

    test(s"[$backend] a crash at the phase commit keeps job ids and stale hashes") {
      def world(wrap: MetaStorage => MetaStorage): (Tasks, MetaStore, TargetStore) = {
        val (dir, tasks, meta, targets) = freshWorld(backend, wrap)
        writeZoe(dir)
        tasks.setConfiguration(Seq(peopleCfg, zoeCfg))
        tasks.findSomeUpdatedSpreadsheets()
        (tasks, meta, targets)
      }
      def contents(targets: TargetStore) =
        Seq("renewals_2019", "zoe").map(t => targets.read(t).collect().toSet)
      val (cleanTasks, _, cleanTargets) = world(identity)
      cleanTasks.loadSomeUpdatedSpreadsheets()
      val clean = contents(cleanTargets)

      var storage: CrashingMetaStorage = null
      val (tasks, meta, targets) = world(s => { storage = new CrashingMetaStorage(s); storage })
      storage.jobReplacesLeft = 1 // the job-row write passes, the commit crashes
      intercept[IllegalStateException] { tasks.loadSomeUpdatedSpreadsheets() }
      assert(contents(targets) == clean) // both loads ran before the commit
      val jobs = meta.etlJobs.collect()
      assert(jobs.map(j => j.id -> j.sheet_name).toSet == Set(1L -> "2019 Expirations", 2L -> "Sheet1"))
      assert(jobs.forall(j => j.google_modified == "" && j.raw_columns_rows_hash == ""))

      // the rerun reloads both sheets into the same job partitions
      storage.jobReplacesLeft = Int.MaxValue
      assert(tasks.loadSomeUpdatedSpreadsheets() == Seq(peopleCfg, zoeCfg))
      assert(meta.etlJobs.collect().map(_.id).toSet == Set(1L, 2L))
      assert(meta.etlJobs.collect().forall(_.raw_columns_rows_hash.nonEmpty))
      assert(contents(targets) == clean)
    }

    test(s"[$backend] verifyOldestSpreadsheet: refresh on success, false when inaccessible (R30)") {
      val (dir, tasks, meta, _) = freshWorld(backend)
      tasks.findSomeUpdatedSpreadsheets()
      assert(tasks.verifyOldestSpreadsheet())
      // make the file disappear from the source
      Files.delete(dir.resolve("a.json"))
      assert(!tasks.verifyOldestSpreadsheet())
    }

    test(s"[$backend] header errors are wrapped with spreadsheet URL context (R31)") {
      val (_, tasks, _, _) = freshWorld(backend)
      tasks.findSomeUpdatedSpreadsheets()
      tasks.setConfiguration(Seq(peopleCfg.copy(
        columnMapping = Seq("x" -> Right("Nope")))))
      val e = intercept[IllegalArgumentException] { tasks.loadSomeUpdatedSpreadsheets() }
      assert(e.getMessage.contains("Required column not found: Nope"))
      assert(e.getMessage.contains(s"https://docs.google.com/spreadsheets/d/$Sid"))
    }
  }

  test("two config entries for one (spreadsheet, sheet) are rejected") {
    val (_, tasks, _, _) = freshWorld("memory")
    val e = intercept[EtlConfigException] {
      tasks.setConfiguration(Seq(peopleCfg, zoeCfg, peopleCfg.copy(targetTable = "t2")))
    }
    assert(e.getMessage.contains(Sid) && e.getMessage.contains("2019 Expirations"))
    assert(tasks.configuration == Seq(peopleCfg))
  }

  test("R26: two prefixed/schema'd configs share one warehouse root without collision") {
    val dirA = Files.createTempDirectory("graft-fixtures-a")
    val dirB = Files.createTempDirectory("graft-fixtures-b")
    val wh = Files.createTempDirectory("graft-wh").toString
    writeFixture(dirA, "a.json", Sid, "2019 Expirations", "2026-05-01T12:00:00.000Z", people)
    writeFixture(dirB, "b.json", Sid2, "Sheet1", "2026-05-02T00:00:00.000Z", Seq(
      Seq("Name"), Seq("Zoe")))

    // Tenant A: prefix only; tenant B: schema + prefix. Same warehouse
    // root, same bare target-table name — the reference's knobs
    // (src/DatabaseAgent.php:53-61) exist exactly so these never collide.
    val namingA = TableNaming(None, Some("a_"))
    val namingB = TableNaming(Some("tenant_b"), Some("b_"))
    def world(dir: Path, naming: TableNaming, cfg: EtlConfig): (Tasks, TargetStore) = {
      val meta = new MetaStore(spark, s"$wh/meta", naming)
      val targets = new TargetStore(spark, s"$wh/tables", naming)
      meta.setUpAccounting()
      val tasks = new Tasks(new LocalGridSource(dir.toString), meta, targets, loadTime = 1746100000L)
      tasks.setConfiguration(Seq(cfg))
      (tasks, targets)
    }
    val (tasksA, targetsA) = world(dirA, namingA, peopleCfg)
    val (tasksB, targetsB) = world(dirB, namingB,
      EtlConfig(Sid2, "Sheet1", "renewals_2019", Seq("name" -> Right("Name"))))

    tasksA.findSomeUpdatedSpreadsheets(); tasksA.loadSomeUpdatedSpreadsheets()
    tasksB.findSomeUpdatedSpreadsheets(); tasksB.loadSomeUpdatedSpreadsheets()

    // distinct physical locations, both under the shared root
    assert(targetsA.path("renewals_2019") == s"$wh/tables/a_renewals_2019")
    assert(targetsB.path("renewals_2019") == s"$wh/tables/tenant_b/b_renewals_2019")
    assert(targetsA.read("renewals_2019").select("name").collect().map(_.getString(0)).toSet
      == Set("Alice", "Bob", ""))
    assert(targetsB.read("renewals_2019").select("name").collect().map(_.getString(0)).toSet
      == Set("Zoe"))

    // accounting is independent too: A tracks only Sid, B only Sid2
    val metaA = new MetaStore(spark, s"$wh/meta", namingA)
    val metaB = new MetaStore(spark, s"$wh/meta", namingB)
    assert(metaA.spreadsheets.collect().map(_.google_spreadsheet_id).toSeq == Seq(Sid))
    assert(metaB.spreadsheets.collect().map(_.google_spreadsheet_id).toSeq == Seq(Sid2))
  }

  /** Spark jobs `body` launches, counted under a job group of its own. */
  private def sparkJobsOf[T](body: => T): (T, Int) = {
    val group = s"etl-tick-${System.nanoTime()}"
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "ETL tick under test")
    try {
      val result = body
      // listener delivery is async — poll until the count is stable
      var last = -1
      var spins = 0
      while (jobs != last && spins < 50) { last = jobs; Thread.sleep(100); spins += 1 }
      (result, jobs)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("[snapshot] accounting launches no Spark job: an idle tick runs none") {
    val (dir, tasks, meta, _) = freshWorld("snapshot")
    writeZoe(dir)
    tasks.setConfiguration(Seq(peopleCfg, zoeCfg))
    // one tick as EtlMain runs it; returns the sheets loaded
    def tick(): Int = {
      meta.setUpAccounting()
      tasks.findSomeUpdatedSpreadsheets()
      val loaded = tasks.loadSomeUpdatedSpreadsheets()
      tasks.verifyOldestSpreadsheet()
      loaded.size
    }
    val (loaded, coldJobs) = sparkJobsOf(tick())
    assert(loaded == 2)
    assert(coldJobs <= loaded, s"cold tick launched $coldJobs jobs for $loaded sheets")
    assert(sparkJobsOf(tick()) == ((0, 0)))
  }

  test("[snapshot] a crash between replace's renames keeps the cursor and job ids") {
    val dir = Files.createTempDirectory("graft-fixtures")
    val wh = Files.createTempDirectory("graft-wh").toString
    writeFixture(dir, "a.json", Sid, "2019 Expirations", "2026-05-01T12:00:00.000Z", people)
    writeFixture(dir, "b.json", Sid2, "Sheet1", "2026-05-04T00:00:00.000Z", Seq(
      Seq("Name"), Seq("Zoe")))
    val zoeCfg = EtlConfig(Sid2, "Sheet1", "renewals_2019", Seq("name" -> Right("Name")))
    val targets = new TargetStore(spark, s"$wh/tables")
    def run(): MetaStore = {
      val meta = new MetaStore(spark, s"$wh/meta")
      meta.setUpAccounting()
      val tasks = new Tasks(new LocalGridSource(dir.toString), meta, targets, loadTime = 1746100000L)
      tasks.setConfiguration(Seq(peopleCfg, zoeCfg))
      tasks.findSomeUpdatedSpreadsheets()
      tasks.loadSomeUpdatedSpreadsheets()
      meta
    }
    val meta = run()
    val cursor = meta.getGreatestModified()
    val jobs = meta.etlJobs.collect().toSet
    assert(jobs.map(_.id) == Set(1L, 2L))

    // the crash state: each live table renamed to `.old`, and a complete
    // but uncommitted `.tmp` snapshot beside it
    val storage = new SnapshotMetaStorage(spark, s"$wh/meta")
    for (table <- Seq(meta.SpreadsheetsTable, meta.EtlJobsTable)) {
      val live = storage.tablePath(table)
      spark.read.parquet(live).limit(0).repartition(1).write.parquet(s"$live.tmp")
      Files.move(Paths.get(live), Paths.get(s"$live.old"))
    }
    val recovered = new MetaStore(spark, storage)
    recovered.setUpAccounting()
    assert(recovered.getGreatestModified() == cursor)
    assert(recovered.etlJobs.collect().toSet == jobs)

    // Sid2 changes: its reload reuses job id 2 and leaves job 1's partition
    writeFixture(dir, "b.json", Sid2, "Sheet1", "2026-05-05T00:00:00.000Z", Seq(
      Seq("Name"), Seq("Yan")))
    run()
    val rows = targets.read("renewals_2019")
      .selectExpr("CAST(_origin_etl_job_id AS BIGINT)", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "Alice"), (1L, "Bob"), (1L, ""), (2L, "Yan")))
  }
}
