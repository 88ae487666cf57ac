package graft

import graft.core.{DependentConf, Flags, StabilizationConf}
import graft.ops.Geo
import graft.pipeline.{ConfigLoader, QcMain}
import org.scalatest.funsuite.AnyFunSuite

/** S10 — config loading + validation (reference `src/yaml_schema.py`). */
class ConfigUtilSpec extends AnyFunSuite {

  private val cfgJson =
    """{
      |  "time": {"start": "2024-01-01", "end": "2024-02-01"},
      |  "QC": {
      |    "7751": {"range": {"min": 0, "max": 20}},
      |    "7770": {"range": {"min": 5, "max": 30}}
      |  },
      |  "QC_global": {"gradient": {"min": -1, "max": 1},
      |                "zscore": {"min": -3, "max": 3, "time_window": "60min"}},
      |  "QC_dependent": [
      |    {"independent": 7751, "dependent": 7770, "dt_tolerance": "0.5s",
      |     "range": {"min": 1, "max": 10}}
      |  ],
      |  "QC_stabilization": [
      |    {"datastream": 7751, "range": {"min": 1, "max": 6},
      |     "dt_stabilization": "20min", "max_allowed_downtime": "15min"}
      |  ]
      |}""".stripMargin

  test("config loads into typed model with duration parsing") {
    val Right(cfg) = ConfigLoader.load(cfgJson): @unchecked
    assert(cfg.qc.rangeBounds.keySet == Set(7751L, 7770L))
    assert(cfg.qc.zscoreWindowSec == 3600L)
    assert(cfg.qc.dependents.head.dtToleranceUs == 500000L)
    assert(cfg.qc.dependents.head.flagWhenMissing.contains(Flags.Bad))
    assert(cfg.qc.stabilization.head.dtStabilizationSec == 1200L)
    assert(cfg.timeStart.contains("2024-01-01"))
  }

  test("validation rejects inverted bounds and bad overrides (yaml_schema parity)") {
    val bad = cfgJson.replace("\"min\": 0, \"max\": 20", "\"min\": 30, \"max\": 20")
    val Left(errs) = ConfigLoader.load(bad): @unchecked
    assert(errs.exists(_.path == "QC.7751.range"))
    val Left(errs2) = ConfigLoader.load(cfgJson, Map("nope.key" -> "x")): @unchecked
    assert(errs2.exists(_.path == "nope.key"))
  }

  test("CLI overrides compose like hydra k=v (time.start=...)") {
    val Right(cfg) = ConfigLoader.load(cfgJson, Map("time.start" -> "2025-01-01")): @unchecked
    assert(cfg.timeStart.contains("2025-01-01"))
  }

  test("duration grammar: s/min/h with fractions") {
    assert(ConfigLoader.parseDurationUs("0.5s") == 500000L)
    assert(ConfigLoader.parseDurationUs("10min") == 600000000L)
    assert(ConfigLoader.parseDurationUs("2h") == 7200000000L)
    intercept[IllegalArgumentException](ConfigLoader.parseDurationUs("abc"))
    // "10ms" must be 10 milliseconds, not 10 minutes (the old
    // `(s|sec|min|m|h|hour)s?` regex parsed unit 'm' + trailing 's')
    assert(ConfigLoader.parseDurationUs("10ms") == 10000L)
    assert(ConfigLoader.parseDurationUs("10m") == 600000000L)
    assert(ConfigLoader.parseDurationUs("10mins") == 600000000L)
  }

  test("env interpolation + multi-file composition (hydra resolver parity)") {
    // ${oc.env:VAR} and ${oc.env:VAR,default} (reference config.yaml:24-25)
    val doc = """{"a": "${oc.env:GRAFT_A}", "b": "${oc.env:GRAFT_MISSING,fallback}"}"""
    val out = ConfigLoader.interpolateEnv(doc, Map("GRAFT_A" -> "hello"))
    assert(out == """{"a": "hello", "b": "fallback"}""")
    intercept[IllegalArgumentException](
      ConfigLoader.interpolateEnv("""{"x": "${oc.env:GRAFT_MISSING}"}""", Map.empty))

    // deep-merge: objects merge key-wise, scalars/arrays replace
    val base = """{"QC": {"1": {"range": {"min": 0, "max": 10}}},
                  |"QC_global": {"zscore": {"min": -3, "max": 3}},
                  |"QC_dependent": [{"independent": 1, "dependent": 2}]}""".stripMargin
    val overlay = """{"QC": {"2": {"range": {"min": 5, "max": 6}}},
                    |"QC_global": {"zscore": {"max": 4}},
                    |"QC_dependent": []}""".stripMargin
    val merged = ConfigLoader.compose(Seq(base, overlay))
    val loaded = ConfigLoader.load(merged).toOption.get
    assert(loaded.qc.rangeBounds.keySet == Set(1L, 2L)) // objects merged
    assert(loaded.qc.zscoreBounds._2 == 4.0) // overlay wins
    assert(loaded.qc.zscoreBounds._1 == -3.0) // base survives
    assert(loaded.qc.dependents.isEmpty) // arrays replace wholesale
  }

  test("a bad document is Left at its path, never an exception or a silent 0") {
    val dep = """{"independent": 7751, "dependent": 7770, "dt_tolerance": "0.5s"}"""
    val stab = """{"datastream": 7751, "range": {"min": 1, "max": 6},
                  |"dt_stabilization": "20min", "max_allowed_downtime": "15min"}""".stripMargin
    val cases = Seq(
      """{"QC_dependent": [%s]}""".format(dep.replace("0.5s", "half a second")) ->
        "QC_dependent[0].dt_tolerance",
      """{"QC_dependent": [%s]}""".format(dep.replace("0.5s", "0s")) ->
        "QC_dependent[0].dt_tolerance",
      """{"QC_dependent": [%s]}""".format(dep.replace(""""independent": 7751, """, "")) ->
        "QC_dependent[0].independent",
      """{"QC_dependent": [%s]}""".format(dep.replace(""""dependent": 7770, """, "")) ->
        "QC_dependent[0].dependent",
      """{"QC_dependent": [%s]}""".format(dep.replace("7770", "\"x\"")) ->
        "QC_dependent[0].dependent",
      """{"QC_dependent": [%s]}""".format(dep.replace("}", """, "range": {"min": 1}}""")) ->
        "QC_dependent[0].range",
      """{"QC_dependent": [%s]}""".format(dep.replace("}", """, "range": {"min": 9, "max": 1}}""")) ->
        "QC_dependent[0].range",
      """{"QC_dependent": [%s]}""".format(dep.replace("}", """, "flag_when_missing": 7}""")) ->
        "QC_dependent[0].flag_when_missing",
      """{"QC_stabilization": [%s]}""".format(stab.replace("20min", "soon")) ->
        "QC_stabilization[0].dt_stabilization",
      """{"QC_stabilization": [%s]}""".format(stab.replace("15min", "0min")) ->
        "QC_stabilization[0].max_allowed_downtime",
      """{"QC_stabilization": [%s]}""".format(stab.replace(""""datastream": 7751,""", "")) ->
        "QC_stabilization[0].datastream",
      """{"QC_stabilization": [%s]}""".format(stab.replace(""""max": 6""", """"max": "six"""")) ->
        "QC_stabilization[0].range.max",
      """{"QC_stabilization": [%s]}""".format(stab.replace(""", "max": 6""", "")) ->
        "QC_stabilization[0].range",
      """{"QC_stabilization": [%s]}""".format(stab.replace(""""min": 1, "max": 6""", """"min": 6, "max": 1""")) ->
        "QC_stabilization[0].range",
      """{"QC_stabilization": [%s]}""".format(stab.replace(""""range": {"min": 1, "max": 6},""", "")) ->
        "QC_stabilization[0].range",
      """{"QC_stabilization": %s}""".format(stab) -> "QC_stabilization",
      """{"QC": {"sst": {"range": {"min": 0, "max": 1}}}}""" -> "QC.sst",
      """{"QC": {"-4": {"range": {"min": 0, "max": 1}}}}""" -> "QC.-4",
      """{"QC": {"1": {"range": {"max": 1}}}}""" -> "QC.1.range",
      """{"QC_global": {"zscore": {"min": -3, "max": 3, "time_window": "1 fortnight"}}}""" ->
        "QC_global.zscore.time_window",
      """{"QC_global": {"gradient": {"min": 1, "max": -1}}}""" -> "QC_global.gradient",
      """{"location": {"time_window": "ten minutes"}}""" -> "location.time_window",
      """{"location": {"max_dx_dt": "fast"}}""" -> "location.max_dx_dt",
      """{"location": {"regions": [{"region": "R", "sub_region": "S",
        |"lat": {"min": 52, "max": 51}, "lon": {"min": 2, "max": 3}}]}}""".stripMargin ->
        "location.regions[0].lat",
      """{"location": {"regions": [{"sub_region": "S",
        |"lat": {"min": 51, "max": 52}, "lon": {"min": 2, "max": 3}}]}}""".stripMargin ->
        "location.regions[0].region",
      """{"QC": {"1": """ -> "",
      """[1, 2]""" -> "")
    cases.foreach { case (doc, path) =>
      val got = ConfigLoader.load(doc)
      assert(got.swap.exists(_.map(_.path).contains(path)), s"$doc -> $got")
    }
    val missing = ConfigLoader.loadFiles(Seq("no/such/config.json"))
    assert(missing.swap.exists(_.map(_.path) == Seq("no/such/config.json")))
  }

  test("conf/qc_example.json loads to the RunQcMain example config") {
    val Right(cfg) = ConfigLoader.loadFiles(Seq("conf/qc_example.json")): @unchecked
    assert(cfg.qc == QcMain.Config(
      rangeBounds = Map(7751L -> (0.0, 20.0), 7770L -> (5.0, 30.0)),
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 51.0, 52.0, 2.5, 3.5)),
      stabilization = Seq(StabilizationConf(7751L, 0.0, 20.0,
        dtStabilizationSec = 1200L, maxAllowedDowntimeSec = 900L)),
      dependents = Seq(DependentConf(independentId = 7751L,
        dependentId = 7770L, dtToleranceUs = 500000L,
        secondaryRange = Some((0.0, 25.0))))))
  }
}
