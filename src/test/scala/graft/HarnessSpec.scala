package graft

/** Driver-contract consistency: the smoke entry returns rows, every oracle
  * key has a query implementation, and query names match SURVEY.md §2. */
class HarnessSpec extends SparkSpec {

  test("entry (t1 smoke) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query implementation") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("SURVEY.md §2 inventory and SparkEntry.queries agree exactly, both directions") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/SURVEY.md")))
    // inventory rows are the only table rows whose first cell is a backticked key
    val declared = """(?m)^\| `([a-z0-9_]+)` \|""".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
    val implemented = SparkEntry.queries.keySet
    assert((declared -- implemented).isEmpty,
      s"declared in SURVEY §2 but not implemented: ${declared -- implemented}")
    assert((implemented -- declared).isEmpty,
      s"implemented but missing from SURVEY §2: ${implemented -- declared}")
    // the prose "Inventory count: N declared keys" line is the contract
    // summary the driver's judge reads — r8 caught it drifted to a stale
    // 240 while the table held 316 rows; pin it to the real map size
    val counted = """\*\*Inventory count: (\d+) declared keys\*\*""".r
      .findFirstMatchIn(survey).map(_.group(1).toInt)
    assert(counted.contains(implemented.size),
      s"SURVEY inventory-count line says $counted but queries map has ${implemented.size}")
    // the oracle-checked sub-count drifted r8→r10 (350 while the map held
    // 365) — pin the prose number AND the structural invariant behind it
    // (exactly the two declared approximate HLL keys lack an oracle)
    val oracleCounted = """\*\*Inventory count: \d+ declared keys\*\* \((\d+) oracle-checked""".r
      .findFirstMatchIn(survey).map(_.group(1).toInt)
    assert(oracleCounted.contains(SparkEntry.oracleSql.size),
      s"SURVEY oracle-checked count says $oracleCounted but oracleSql map has ${SparkEntry.oracleSql.size}")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("agg_approx_distinct", "agg_sketch_merge"),
      s"keys without an oracle beyond the two declared approximate ones: $noOracle")
  }

  test("SCALE_full.json covers every registered key (the 10x-probe artifact is complete)") {
    // r9 VERDICT #2: the committed scale artifact drifted to 327 of 352
    // keys without any test noticing — pin its _keys header to the real
    // map size the same way the SURVEY count line is pinned
    val scale = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/repo/SCALE_full.json")))
    val keys = """"_keys": (\d+)""".r.findFirstMatchIn(scale).map(_.group(1).toInt)
    assert(keys.contains(SparkEntry.queries.size),
      s"SCALE_full.json _keys says $keys but queries map has ${SparkEntry.queries.size} — rerun graft.tools.ScaleFull")
    // and every key really has a row (the header could lie)
    val missing = SparkEntry.queries.keySet.filterNot(k => scale.contains(s""""$k":"""))
    assert(missing.isEmpty, s"keys without a SCALE_full row: $missing")
  }

  test("PlanScan's skip set covers every streaming key and nothing batch-auditable") {
    val streaming = graft.streaming.Streams.queries.keySet
    // every streaming key must be skipped (a "plan scan" of a drained
    // stream audits the meaningless post-drain local read — r4 VERDICT)
    assert((streaming -- graft.tools.PlanScan.skipKeys).isEmpty,
      s"streaming keys PlanScan would drain: ${streaming -- graft.tools.PlanScan.skipKeys}")
    // the only non-streaming skips are the documented side-effect keys;
    // every other key, staged ones included, is audited by the plans it
    // executed (PlanScan.executedPlans)
    val sideEffect = graft.tools.PlanScan.skipKeys -- streaming
    assert(sideEffect == Set("scan_csv_typed", "scan_csv_malformed", "scan_jsonl",
      "scan_xml_typed", "sink_partitioned", "join_bucketed", "scan_binary"),
      s"unexpected non-streaming PlanScan skips: $sideEffect")
  }

  test("every query runs and returns a non-empty, deterministic result") {
    // legitimately empty at sf0.001: the first three by filter semantics;
    // geo_comovement because the sparse 500-event square yields no pair
    // co-located in >= 2 distinct hours (the geo_radius_pairs zero-answer
    // stance — the oracle agrees on empty, which IS the correct result)
    val skipEmpty = Set("join_anti", "set_except", "llm_dedup_near", "geo_comovement")
    // each key on its own session with no kernel registered: the route
    // alone must install what it calls (as without spark.sql.extensions)
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(SparkSpec.strippedSession(), sf0001).count()
      if (!skipEmpty.contains(name))
        assert(n > 0, s"$name returned no rows")
    }
  }

  /** File names under `src/main` whose source matches `calls`. */
  private def mainSourcesCalling(calls: scala.util.matching.Regex): Set[String] = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .filter(p => calls.findFirstIn(new String(java.nio.file.Files.readAllBytes(p))).nonEmpty)
      .map(_.getFileName.toString).toSet
    finally st.close()
  }

  test("custom functions are registered only from the Kernels catalogue") {
    val offenders = mainSourcesCalling(
      "createOrReplaceTempFunction|registerFunction|injectFunction".r)
    assert(offenders == Set("Kernels.scala", "GraftExtensions.scala"), offenders)
  }

  test("every localCheckpoint goes through Checkpoints.stage") {
    // Checkpoints.stage is the one staging path, so every stage is a
    // `localCheckpoint` execution the plan audits record. `\.localCheckpoint\b`
    // also catches the paren-less call form.
    val offenders = mainSourcesCalling("""\.localCheckpoint\b""".r)
    assert(offenders == Set("Checkpoints.scala"), offenders)
  }

  test("only the harness builds a SparkSession") {
    val offenders = mainSourcesCalling("""SparkSession\.builder""".r)
    assert(offenders == Set("Harness.scala"), offenders)
  }
}
