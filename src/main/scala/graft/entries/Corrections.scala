package graft.entries

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf
import scala.jdk.CollectionConverters._

/** Loader for the reference's REAL corrections dataset — per-id date
  * patches, canonical-agency alias groups, and optional organization
  * remaps (reference src/data/corrections.json; loader semantics
  * src/lib/corrections.ts:17-24: numeric ids only, a patch must carry at
  * least one non-empty date, empty strings are falsy). The dataset ships
  * as a bundled resource (vendored from the reference — it is the spec's
  * correction TABLE, i.e. data, not code); `parse` accepts any JSON
  * string so a deployment can point at a newer file.
  *
  * [[Normalize]] stays bound to the small [[Fixture]] corrections so the
  * fixture oracles remain closed-form; this object is the same machinery
  * over the production data, exercised end-to-end by the
  * `f3_real_alias` / `j5_real_corrections` gate queries.
  */
object Corrections {

  final case class Data(
      dateCorrections: Seq[(Long, Option[String], Option[String])],
      aliasGroups: Seq[(String, Seq[String])],
      orgCorrections: Seq[(String, String)])

  def parse(json: String): Data = {
    val root = new ObjectMapper().readTree(json)
    def fieldsOf(name: String): Seq[(String, JsonNode)] =
      Option(root.get(name)).toSeq
        .flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue).toSeq)
    def optStr(n: JsonNode, field: String): Option[String] =
      Option(n.get(field)).map(_.asText()).filter(_.nonEmpty)
    val dates = fieldsOf("entries").flatMap { case (id, patch) =>
      val req = optStr(patch, "request_date")
      val comp = optStr(patch, "completion_date")
      id.toLongOption.filter(_ => req.isDefined || comp.isDefined)
        .map(i => (i, req, comp))
    }
    val aliases = fieldsOf("agencies").map { case (canonical, arr) =>
      canonical -> arr.elements().asScala.map(_.asText()).toSeq
    }
    val orgs = fieldsOf("organizations").map { case (from, to) => from -> to.asText() }
    Data(dates, aliases, orgs)
  }

  /** The bundled production dataset, parsed once per JVM. */
  lazy val real: Data = {
    val in = getClass.getResourceAsStream("/corrections.json")
    require(in != null, "bundled corrections.json resource missing")
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** normalizeAgencyName over the REAL alias groups (fixture twin:
    * Normalize.agencyNameUdf). */
  val agencyNameUdf = udf((s: String) =>
    if (s == null) null
    else graft.functions.Text.normalizeAgencyName(s, real.aliasGroups))

  /** The real date-patch table as a frame (fixture twin:
    * Normalize.correctionsDf); the overlay itself inlines the table
    * through Normalize.correctedRequest / correctedCompletion. */
  def correctionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    real.dateCorrections.toDF("id", "req_fix", "comp_fix")
  }

  /** Alias-candidate spellings against the real groups (fixture twin:
    * Normalize.aliasCandidates). */
  def aliasCandidates(agency: String): Seq[String] =
    (graft.functions.Text.agencyNameCandidates(agency, real.aliasGroups) :+ agency)
      .map(_.trim).filter(_.nonEmpty).distinct
}
