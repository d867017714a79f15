package graft.model

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** One dictionary entry after normalization: a column alias bound to
  * human metadata, optionally scoped to a (process, file) pair where
  * `"*"` means any (reference `json/example/fields.json:15-17`).
  */
final case class FieldEntry(
    alias: String,          // normalized (trim+lower) column spelling
    process: String = "*",
    file: String = "*",
    name: String = "",
    desc: String = "")

/** Column-metadata catalog covering both reference dictionary dialects:
  *
  *  - flat (`json/example/gpt/fields.json:1-971`): list of
  *    `{col, name, desc}`;
  *  - scoped (`json/example/fields.json:1-106`): list of
  *    `{column: [aliases], metadata: [{process, file, name, desc}]}` with
  *    `"*"` wildcards and multi-alias spellings
  *    (`p.value` / `pvalue` / `p-value` at `fields.json:79-87`).
  *
  * Resolution semantics (SURVEY §2.3 J1-J3): probe by normalized column
  * name; an exact (process, file) scope beats a wildcard scope; ties break
  * to the first entry in catalog order. Lookup normalizes BOTH sides
  * (fixes the reference's silent case-mismatch, SURVEY §1.5.1 —
  * `run_annotate.py:183` compares original-case names against a
  * lowercased dictionary).
  *
  * The catalog is driver-scale (hundreds of entries); resolution over
  * observed columns is a broadcast-join in spirit. `entries` is exposed so
  * query code can lift it into a small DataFrame and do the join in Spark
  * (exercised by the q6 annotate query).
  */
final case class FieldsCatalog(entries: Seq[FieldEntry]) {

  /** specificity: exact process+file=3, exact process only=2, exact file
    * only=1, both wildcard=0 — exact beats wildcard on either axis,
    * process-match ranks above file-match.
    */
  def specificity(e: FieldEntry): Int =
    (if (e.process != "*") 2 else 0) + (if (e.file != "*") 1 else 0)

  private def matches(e: FieldEntry, process: String, file: String): Boolean =
    (e.process == "*" || e.process == process) &&
      (e.file == "*" || e.file == file)

  /** Resolve one observed column name -> best metadata entry. */
  def resolve(col: String, process: String = "*", file: String = "*")
      : Option[FieldEntry] = {
    val key = FieldsCatalog.norm(col)
    entries.zipWithIndex
      .filter { case (e, _) => e.alias == key && matches(e, process, file) }
      .sortBy { case (e, i) => (-specificity(e), i) }
      .headOption.map(_._1)
  }

  def ++(other: FieldsCatalog): FieldsCatalog =
    FieldsCatalog(entries ++ other.entries)
}

object FieldsCatalog {
  private val mapper = new ObjectMapper()

  /** trim + lowercase, the reference's normalization (`run_annotate.py:48`). */
  def norm(c: String): String = c.trim.toLowerCase

  def parse(json: String): FieldsCatalog = {
    val root = mapper.readTree(json)
    require(root.isArray, "fields dictionary must be a JSON array")
    val entries = root.elements.asScala.flatMap { e =>
      if (e.has("column") || e.has("metadata")) {
        // scoped dialect: cross product aliases x metadata scopes
        val aliases =
          Option(e.get("column")).map { c =>
            if (c.isArray) c.elements.asScala.map(_.asText).toSeq
            else Seq(c.asText)
          }.getOrElse(Nil)
        val metas = Option(e.get("metadata"))
          .map(_.elements.asScala.toSeq).getOrElse(Nil)
        for (a <- aliases; m <- metas) yield FieldEntry(
          alias = norm(a),
          process = txt(m, "process").getOrElse("*"),
          file = txt(m, "file").getOrElse("*"),
          name = txt(m, "name").getOrElse(""),
          desc = txt(m, "desc").getOrElse(""))
      } else {
        // flat dialect: {col, name, desc}
        Seq(FieldEntry(
          alias = norm(txt(e, "col").getOrElse("")),
          name = txt(e, "name").getOrElse(""),
          desc = txt(e, "desc").getOrElse("")))
      }
    }.toSeq.filter(_.alias.nonEmpty)
    FieldsCatalog(entries)
  }

  def parseFile(path: String): FieldsCatalog =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** Serialize back to the flat dialect — the reference's write-back path
    * (`run_annotate.py:293-307`): the dictionary is a growing catalog.
    * Append-only: existing entries keep their order; new ones go last.
    */
  def toFlatJson(cat: FieldsCatalog): String = {
    val arr = mapper.createArrayNode()
    cat.entries.foreach { e =>
      val o = mapper.createObjectNode()
      o.put("col", e.alias); o.put("name", e.name); o.put("desc", e.desc)
      arr.add(o)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(arr)
  }

  private def txt(n: com.fasterxml.jackson.databind.JsonNode, f: String)
      : Option[String] =
    Option(n.get(f)).filter(!_.isNull).map(_.asText).filter(_.nonEmpty)
}
