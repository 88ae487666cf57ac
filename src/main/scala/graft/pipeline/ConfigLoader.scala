package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{DependentConf, Flags, StabilizationConf}
import graft.ops.Geo
import scala.jdk.CollectionConverters._
import scala.util.Try

/** S10 — config source (reference hydra/omegaconf YAML composed in
  * `src/main.py:280-281`, validated by the Cerberus schema
  * `src/yaml_schema.py:45-224`).
  *
  * Spark-side equivalent: a JSON config document (same tree shape as the
  * reference's `conf/config.yaml`: `time`, `QC` keyed by datastream id,
  * `QC_global`, `QC_stabilization`, `QC_dependent`, `location`) parsed
  * with Jackson (already on the Spark classpath — no new dependency)
  * straight into the [[QcMain.Config]] the passes read; each field's
  * scaladoc names its key, and an absent key keeps the field's default.
  * A stream listed under `QC` with no `range` of its own takes
  * `QC_global.range` (reference `src/main.py:506-509`). Gradient and
  * z-score bounds are global only: one bound of each applies to every
  * stream, so a per-stream `gradient` or `zscore` block is an error.
  *
  * Validation follows the Cerberus schema's rules (bounds give both `min`
  * and `max`, `min < max`, durations positive, ids positive integers);
  * every violation is a [[ValidationError]] at its path, so a bad
  * document comes back as `Left`, never as an exception or a default.
  * CLI `k=v` overrides compose on top, mirroring hydra's override
  * grammar for the keys we use.
  */
object ConfigLoader {

  final case class Loaded(
      qc: QcMain.Config,
      timeStart: Option[String],
      timeEnd: Option[String])

  final case class ValidationError(path: String, message: String)

  /** µs precision — the reference's `dt_tolerance: 0.5s` is sub-second.
    * Units are an explicit anchored list, longest-first: the old
    * `(s|sec|min|m|h|hour)s?` form parsed "10ms" as 10 *minutes* (unit
    * 'm' + optional trailing 's'), silently mis-scaling by 60,000×.
    */
  def parseDurationUs(s: String): Long = {
    // reference durations: "0.5s", "10min", "20min", "1h" (yaml_schema regex)
    val m = raw"^([0-9]+(?:\.[0-9]+)?)\s*(hours|hour|mins|min|secs|sec|ms|h|m|s)$$".r
    s.trim match {
      case m(n, u) =>
        val mult = u match {
          case "ms" => 1e3
          case "s" | "sec" | "secs" => 1e6
          case "min" | "mins" | "m" => 60e6
          case "h" | "hour" | "hours" => 3600e6
        }
        (n.toDouble * mult).round
      case other => throw new IllegalArgumentException(s"bad duration: '$other'")
    }
  }

  /** Hydra/omegaconf-style env resolvers (reference `conf/config.yaml:24-25`
    * uses `${oc.env:VAR}`): `${oc.env:NAME}` (required) and
    * `${oc.env:NAME,default}`. Applied textually before parsing, like
    * omegaconf's string interpolation.
    */
  def interpolateEnv(doc: String, env: Map[String, String] = sys.env): String = {
    val re = raw"\$$\{oc\.env:([A-Za-z_][A-Za-z0-9_]*)(?:,([^}]*))?\}".r
    re.replaceAllIn(doc, m => {
      val v = env.get(m.group(1)).orElse(Option(m.group(2))).getOrElse(
        throw new IllegalArgumentException(
          s"env var '${m.group(1)}' not set and no default given"))
      scala.util.matching.Regex.quoteReplacement(v)
    })
  }

  /** Multi-document composition, hydra-style: later documents override
    * earlier ones — objects deep-merge key-wise, scalars and arrays
    * replace wholesale (an override list REPLACES the base list, the
    * hydra default).
    */
  def compose(docs: Seq[String]): String = {
    require(docs.nonEmpty, "no config documents")
    val mapper = new ObjectMapper()
    mapper.writeValueAsString(docs.map(mapper.readTree).reduceLeft(deepMerge))
  }

  private def deepMerge(base: JsonNode, over: JsonNode): JsonNode =
    if (base.isObject && over.isObject) {
      val out = base.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
      over.properties().asScala.foreach { e =>
        if (out.has(e.getKey))
          out.set[JsonNode](e.getKey, deepMerge(out.get(e.getKey), e.getValue))
        else out.set[JsonNode](e.getKey, e.getValue)
      }
      out: JsonNode
    } else over

  /** Full composition pipeline: read files in order, interpolate env
    * resolvers, deep-merge, then parse/validate.
    * An unreadable file, an unset env var or malformed JSON is a
    * [[ValidationError]] at the file's path.
    */
  def loadFiles(paths: Seq[String]): Either[Seq[ValidationError], Loaded] = {
    val docs = paths.map { p =>
      Try(interpolateEnv(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")))
        .toEither.left.map(e => ValidationError(p, e.toString))
    }
    val unread = docs.collect { case Left(e) => e }
    if (unread.nonEmpty) Left(unread)
    else Try(compose(docs.collect { case Right(d) => d })).toEither
      .left.map(e => Seq(ValidationError(paths.mkString(","), e.toString)))
      .flatMap(load(_))
  }

  /** Entry point of the CLI mains: the loaded config, or each error on
    * stderr as `path: message` and exit status 2.
    */
  def loadFileOrExit(path: String): Loaded = loadFiles(Seq(path)) match {
    case Right(l) => l
    case Left(errs) =>
      errs.foreach(e => System.err.println(s"${e.path}: ${e.message}"))
      sys.exit(2)
  }

  def load(json: String, overrides: Map[String, String] = Map.empty): Either[Seq[ValidationError], Loaded] =
    Try(new ObjectMapper().readTree(json)).toEither.left.map(_.getMessage)
      .filterOrElse(_.isObject, "not a JSON object") match {
      case Right(root) => fromTree(root, overrides)
      case Left(msg) => Left(Seq(ValidationError("", msg)))
    }

  private def fromTree(root: JsonNode,
                       overrides: Map[String, String]): Either[Seq[ValidationError], Loaded] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[ValidationError]
    val default = QcMain.Config()

    def num(n: JsonNode, path: String): Option[Double] =
      if (n.isMissingNode) None
      else if (n.isNumber) Some(n.asDouble())
      else { errs += ValidationError(path, "must be a number"); None }

    def bounds(n: JsonNode, path: String): Option[(Double, Double)] =
      if (n.isMissingNode) None
      else (num(n.path("min"), s"$path.min"), num(n.path("max"), s"$path.max")) match {
        case (Some(lo), Some(hi)) =>
          if (lo >= hi) errs += ValidationError(path, s"min $lo must be < max $hi")
          Some((lo, hi))
        case _ =>
          errs += ValidationError(path, "must give both min and max"); None
      }

    def requiredBounds(n: JsonNode, path: String): (Double, Double) =
      if (n.isMissingNode) { errs += ValidationError(path, "required"); (0.0, 0.0) }
      else bounds(n, path).getOrElse((0.0, 0.0))

    def positiveId(n: JsonNode, path: String): Long =
      if (n.isIntegralNumber && n.canConvertToLong && n.asLong() > 0) n.asLong()
      else { errs += ValidationError(path, "must be a positive integer"); 0L }

    /** A positive duration in `unitUs` units; absent = `dflt`. */
    def duration(n: JsonNode, path: String, dflt: Long, unitUs: Long): Long =
      if (n.isMissingNode) dflt
      else Try(math.round(parseDurationUs(n.asText()).toDouble / unitUs)).toOption match {
        case Some(v) if v > 0 => v
        case Some(_) => errs += ValidationError(path, "must be positive"); dflt
        case None => errs += ValidationError(path, s"bad duration: '${n.asText()}'"); dflt
      }

    def text(n: JsonNode, path: String): String =
      if (n.isTextual) n.asText()
      else { errs += ValidationError(path, "must be a string"); "" }

    def each(n: JsonNode, path: String): Seq[(JsonNode, String)] =
      if (n.isMissingNode) Seq.empty
      else if (!n.isArray) { errs += ValidationError(path, "must be a list"); Seq.empty }
      else n.elements().asScala.toSeq.zipWithIndex.map { case (e, i) => (e, s"$path[$i]") }

    val g = root.path("QC_global")
    val globalRange = bounds(g.path("range"), "QC_global.range")
    val zscore = g.path("zscore")

    val rangeBounds = root.path("QC").properties().asScala.toSeq.flatMap { e =>
      val path = s"QC.${e.getKey}"
      val id = e.getKey.toLongOption.filter(_ > 0)
      if (id.isEmpty) errs += ValidationError(path, "datastream id must be a positive integer")
      for (k <- Seq("gradient", "zscore") if e.getValue.has(k))
        errs += ValidationError(s"$path.$k",
          s"$k bounds are global only: set QC_global.$k")
      val range = bounds(e.getValue.path("range"), s"$path.range").orElse(globalRange)
      for (i <- id; r <- range) yield i -> r
    }.toMap

    val stabilization = each(root.path("QC_stabilization"), "QC_stabilization").map {
      case (n, path) =>
        val (lo, hi) = requiredBounds(n.path("range"), s"$path.range")
        StabilizationConf(
          datastreamId = positiveId(n.path("datastream"), s"$path.datastream"),
          rangeMin = lo,
          rangeMax = hi,
          dtStabilizationSec = duration(n.path("dt_stabilization"),
            s"$path.dt_stabilization", 1200L, 1000000L),
          maxAllowedDowntimeSec = duration(n.path("max_allowed_downtime"),
            s"$path.max_allowed_downtime", 900L, 1000000L))
    }

    val dependents = each(root.path("QC_dependent"), "QC_dependent").map {
      case (n, path) =>
        val missing = n.path("flag_when_missing")
        DependentConf(
          independentId = positiveId(n.path("independent"), s"$path.independent"),
          dependentId = positiveId(n.path("dependent"), s"$path.dependent"),
          dtToleranceUs = duration(n.path("dt_tolerance"), s"$path.dt_tolerance", 500000L, 1L),
          flagWhenMissing =
            if (missing.isNull) None
            else if (missing.isMissingNode) Some(Flags.Bad)
            else if (missing.isInt && missing.asInt() >= Flags.NoQc && missing.asInt() <= Flags.Bad)
              Some(missing.asInt().toByte)
            else {
              errs += ValidationError(s"$path.flag_when_missing",
                s"must be a flag rank ${Flags.NoQc}-${Flags.Bad} or null")
              None
            },
          secondaryRange = bounds(n.path("range"), s"$path.range"))
    }

    val loc = root.path("location")
    val maxDxDt = num(loc.path("max_dx_dt"), "location.max_dx_dt")
    val maxDdxDtdt = loc.path("max_ddx_dtdt")
    val regions = each(loc.path("regions"), "location.regions").map { case (n, path) =>
      val (latMin, latMax) = requiredBounds(n.path("lat"), s"$path.lat")
      val (lonMin, lonMax) = requiredBounds(n.path("lon"), s"$path.lon")
      Geo.BoxRegion(text(n.path("region"), s"$path.region"),
        text(n.path("sub_region"), s"$path.sub_region"), latMin, latMax, lonMin, lonMax)
    }

    val qc = QcMain.Config(
      rangeBounds = rangeBounds,
      gradientBounds = bounds(g.path("gradient"), "QC_global.gradient")
        .getOrElse(default.gradientBounds),
      zscoreBounds = bounds(zscore, "QC_global.zscore").getOrElse(default.zscoreBounds),
      zscoreWindowSec = duration(zscore.path("time_window"), "QC_global.zscore.time_window",
        default.zscoreWindowSec, 1000000L),
      outlierWindowSec = duration(loc.path("time_window"), "location.time_window",
        default.outlierWindowSec, 1000000L),
      outlierMaxDxDt = maxDxDt.getOrElse(default.outlierMaxDxDt),
      regions = regions,
      depthThreshold = num(loc.path("depth_threshold"), "location.depth_threshold")
        .getOrElse(default.depthThreshold),
      maxVelocityMs = maxDxDt.orElse(default.maxVelocityMs),
      maxAccelerationMs2 =
        if (maxDdxDtdt.isNull) None
        else num(maxDdxDtdt, "location.max_ddx_dtdt").orElse(default.maxAccelerationMs2),
      stabilization = stabilization,
      dependents = dependents)

    val withOverrides = overrides.foldLeft(
      Loaded(qc,
        Option(root.path("time").path("start").asText(null)),
        Option(root.path("time").path("end").asText(null)))) { (l, kv) =>
      kv match {
        case ("time.start", v) => l.copy(timeStart = Some(v))
        case ("time.end", v) => l.copy(timeEnd = Some(v))
        case (k, _) => errs += ValidationError(k, "unknown override key"); l
      }
    }
    if (errs.nonEmpty) Left(errs.toSeq) else Right(withOverrides)
  }
}
