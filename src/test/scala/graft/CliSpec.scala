package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Rules
import graft.pipeline.DailyAggregatorMain

/** CLI argument/env validation parity (`daily_aggregator.py:292-301`). */
class CliSpec extends AnyFunSuite {

  test("filename validation: no path separators, .csv suffix required") {
    assert(DailyAggregatorMain.validateFilename("day.csv").isRight)
    assert(DailyAggregatorMain.validateFilename("../day.csv").isLeft)
    assert(DailyAggregatorMain.validateFilename("dir/day.csv").isLeft)
    assert(DailyAggregatorMain.validateFilename("""dir\day.csv""").isLeft)
    assert(DailyAggregatorMain.validateFilename("day.txt").isLeft)
  }

  test("required env reported by name when missing") {
    val r = DailyAggregatorMain.requiredEnv(
      Map("DB_HOST" -> "h"), Seq("DB_HOST", "DB_NAME", "DB_USER", "DB_PASS"))
    assert(r == Left("missing required environment: DB_NAME, DB_USER, DB_PASS"))
    assert(DailyAggregatorMain.requiredEnv(
      Map("A" -> "1"), Seq("A")).isRight)
  }

  test("shipped config/rules.json parses to the six reference rules") {
    assert(Rules.loadFileOrEmpty("/root/repo/config/rules.json").toSet ==
      Rules.referenceDefaults.toSet)
  }

  test("generator CLI: arg/date validation parity with generate_data.py") {
    import graft.fixtures.FixtureGen
    assert(FixtureGen.validateArgs(Seq("DieBonder_01", "2024-10-16")) ==
      Right(("DieBonder_01", java.time.LocalDate.of(2024, 10, 16))))
    // wrong arity → usage (generate_data.py:11-13)
    assert(FixtureGen.validateArgs(Seq("DieBonder_01")).isLeft)
    assert(FixtureGen.validateArgs(Seq("m", "2024-10-16", "extra")).isLeft)
    // invalid date → named error (generate_data.py:19-23); strict ISO
    assert(FixtureGen.validateArgs(Seq("m", "16.10.2024")).isLeft)
    assert(FixtureGen.validateArgs(Seq("m", "2024-13-40")).isLeft)
    assert(FixtureGen.validateArgs(Seq("m", "2024-1-6")).isLeft)
  }

  test("generator CLI: reference file-naming scheme and deterministic regeneration") {
    import graft.fixtures.FixtureGen
    val dir = graft.core.TmpDirs.scoped("fixturegen_cli")
    val env = Map("GRAFT_DATA_DIR" -> dir, "GRAFT_SIM_HOURS" -> "1")
    val f = FixtureGen.runCli(Seq("DieBonder_01", "2024-10-16"), env)
      .fold(err => fail(err), identity)
    // naming parity (generate_data.py:55-58), end bound = start + window
    assert(f.getName ==
      "machine_event_logs_DieBonder_01_2024-10-16_00-00_to_2024-10-16_01-00.csv")
    val lines = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    assert(lines.head == "timestamp,machine_id,event_name,parameter_name,value")
    // clean 8-row cycles only (no planted edge cases on the CLI path)
    assert((lines.length - 1) % 8 == 0 && lines.length > 8)
    assert(lines(1).contains(",DieBonder_01,Cycle_Start,,"))
    // deterministic: regenerating the same (machine, day) is byte-identical
    val bytes1 = java.nio.file.Files.readAllBytes(f.toPath)
    val f2 = FixtureGen.runCli(Seq("DieBonder_01", "2024-10-16"), env)
      .fold(err => fail(err), identity)
    assert(java.util.Arrays.equals(bytes1, java.nio.file.Files.readAllBytes(f2.toPath)))
    // a different seed changes the content (the knob is live)
    val f3 = FixtureGen.runCli(Seq("DieBonder_01", "2024-10-16"),
      env + ("GRAFT_SEED" -> "7")).fold(err => fail(err), identity)
    assert(!java.util.Arrays.equals(bytes1, java.nio.file.Files.readAllBytes(f3.toPath)))
  }

  test("generator CLI: malformed env knobs take the named-error path, not a stack trace") {
    import graft.fixtures.FixtureGen
    val dir = graft.core.TmpDirs.scoped("fixturegen_cli_env")
    val base = Map("GRAFT_DATA_DIR" -> dir)
    val args = Seq("DieBonder_01", "2024-10-16")
    assert(FixtureGen.runCli(args, base + ("GRAFT_SIM_HOURS" -> "abc")) ==
      Left("invalid GRAFT_SIM_HOURS 'abc' (expected a number)"))
    assert(FixtureGen.runCli(args, base + ("GRAFT_SEED" -> "1e9")) ==
      Left("invalid GRAFT_SEED '1e9' (expected a number)"))
  }

  private val streamingDb = Map(
    "DB_HOST" -> "h", "DB_NAME" -> "n", "DB_USER" -> "u", "DB_PASS" -> "p")

  test("streaming CLI: defaults and the accepted state-store names") {
    import graft.streaming.{StreamingMain, StreamingPipeline}
    val d = StreamingMain.settings(streamingDb).fold(err => fail(err), identity)
    assert(d.cores == 32 && !d.rocksDbStateStore &&
      d.statePartitions == StreamingPipeline.DefaultStatePartitions)
    assert(d.url == "jdbc:postgresql://h/n")
    val set = StreamingMain.settings(streamingDb ++ Map(
      "GRAFT_CORES" -> "4", "GRAFT_STATE_PARTITIONS" -> "16",
      "GRAFT_STATE_PROVIDER" -> "rocksdb")).fold(err => fail(err), identity)
    assert(set.cores == 4 && set.statePartitions == 16 && set.rocksDbStateStore)
    assert(StreamingMain.settings(streamingDb + ("GRAFT_STATE_PROVIDER" -> "hdfs"))
      .map(_.rocksDbStateStore) == Right(false))
    assert(StreamingMain.settings(Map.empty).isLeft)
  }

  // each malformed value takes the named-error exit, never a
  // NumberFormatException trace or a silently swapped state store
  Seq(
    "GRAFT_STATE_PROVIDER" -> "RocksDB" -> "(expected hdfs or rocksdb)",
    "GRAFT_STATE_PROVIDER" -> "rocks" -> "(expected hdfs or rocksdb)",
    "GRAFT_STATE_PARTITIONS" -> "eight" -> "(expected a positive integer)",
    "GRAFT_STATE_PARTITIONS" -> "0" -> "(expected a positive integer)",
    "GRAFT_CORES" -> "4.5" -> "(expected a positive integer)",
    "GRAFT_CORES" -> "-2" -> "(expected a positive integer)"
  ).foreach { case ((key, raw), expected) =>
    test(s"streaming CLI: malformed $key '$raw' is a named error") {
      assert(graft.streaming.StreamingMain.settings(streamingDb + (key -> raw)) ==
        Left(s"invalid $key '$raw' $expected"))
    }
  }

  // the batch mains (DailyAggregatorMain, DashboardMain) read GRAFT_CORES
  // through the same parser as StreamingMain.settings
  Seq("four", "0", "-2").foreach { raw =>
    test(s"batch CLI: malformed GRAFT_CORES '$raw' is a named error") {
      assert(DailyAggregatorMain.positiveInt(Map("GRAFT_CORES" -> raw), "GRAFT_CORES", 32) ==
        Left(s"invalid GRAFT_CORES '$raw' (expected a positive integer)"))
    }
  }

  test("reference-shape bench: a malformed trials argument is a named error") {
    import graft.tools.ReferenceShapeBench.trialsArg
    assert(trialsArg(Nil) == Right(3))
    assert(trialsArg(Seq("5")) == Right(5))
    Seq("ext_semdedup", "0").foreach { raw =>
      assert(trialsArg(Seq(raw)) == Left(s"invalid trials '$raw' (expected a positive integer)"))
    }
  }

  test("Verify CLI: a wrong argument count is the usage line, not a MatchError") {
    assert(Verify.parseArgs(Seq("/sf", "/out")) == Right(("/sf", "/out")))
    Seq(Nil, Seq("/sf"), Seq("/sf", "/out", "extra")).foreach { args =>
      assert(Verify.parseArgs(args) == Left("usage: Verify <sfDir> <outDir>"))
    }
  }

  test("Verify CLI: a malformed SPARK_GRAFT_CPUS is a named error, not a master-URL trace") {
    assert(DailyAggregatorMain.positiveInt(Map("SPARK_GRAFT_CPUS" -> "four"), "SPARK_GRAFT_CPUS", 4) ==
      Left("invalid SPARK_GRAFT_CPUS 'four' (expected a positive integer)"))
    assert(DailyAggregatorMain.positiveInt(Map.empty, "SPARK_GRAFT_CPUS", 4) == Right(4))
  }

  test("Verify CLI: subset names are checked against the catalog") {
    val known = SparkEntry.queries.keySet
    assert(Verify.unknownNames(Set("ext_asof_join", "ext_ann_lsh"), known).isEmpty)
    assert(Verify.unknownNames(Set("ext_asof_join", "ext_asof_jion", "q0"), known) ==
      Seq("ext_asof_jion", "q0"))
  }
}
