package graft.result

import org.apache.spark.sql.Row
import graft.CubeCatalog
import graft.planner.{CubeQuery, Planner}
import graft.model.CubeDef

/** Tidy ("flat table") result shaping + CSV / JSONRecords serialization —
  * the analog of the reference's api_formatters.rb `tidy` (C5) and the
  * formatters directory (C8). Column layout per the reference contract
  * (spec/fixtures/webshop_1.csv):
  *   per drilled level: `ID <Level>`, `<Level>` (key, caption — caption
  *   duplicates the key when the level has no name column), then ancestor
  *   pairs first when parents=true, then property columns, then measures
  *   under their display names.
  */
object Formatters {

  final case class Tidy(headers: Seq[String], rows: Seq[Seq[Any]])

  /** Build the tidy table for a query (collects to the driver — results are
    * axis-sized by construction; SURVEY §3.1 step 4). */
  def tidy(cat: CubeCatalog, q: CubeQuery): Tidy = {
    val cube = Planner.anchorCube(cat, q.cube)
    val (rows, cols) = cat.cachedResult(q) {
      val df = Planner.plan(cat, q)
      (df.collect().toSeq, df.columns.toSeq)
    }
    tidyOf(cat, cube, q, rows, cols)
  }

  def tidyOf(cat: CubeCatalog, cube: CubeDef, q: CubeQuery,
      rows: Seq[Row], cols: Seq[String]): Tidy = {
    val levels = Planner.axisLevels(cube, q)
    val measureNames = measureDisplay(cat, cube, q)
    val headers =
      levels.flatMap(rl => Seq(s"ID ${rl.level.name}", rl.level.name)) ++
        q.properties.map(_.property) ++ measureNames.map(_._1)
    val colIdx = cols.zipWithIndex.toMap
    val outRows = rows.map { r =>
      val axisVals = levels.flatMap { rl =>
        val key = r.get(colIdx(rl.level.alias))
        // caption[] substitutes a property for the caption (ref C4)
        val overridden = q.captions.exists { c =>
          val crl = Planner.resolve(cube, c.level)
          crl.dim.name == rl.dim.name && crl.level.name == rl.level.name
        }
        val cap =
          if (overridden)
            r.get(colIdx(Planner.captionOverrideAlias(rl)))
          else rl.level.nameExpr
            .map(_ => r.get(colIdx(rl.level.labelAlias))).getOrElse(key)
        Seq(key, cap)
      }
      val propVals = q.properties.map(p =>
        r.get(colIdx(Planner.propAlias(cube, p))))
      val measureVals = measureNames.map { case (_, alias) =>
        r.get(colIdx(alias))
      }
      axisVals ++ propVals ++ measureVals
    }
    Tidy(headers, outRows)
  }

  /** (display name, result column alias) per requested measure. */
  def measureDisplay(cat: CubeCatalog, cube: CubeDef,
      q: CubeQuery): Seq[(String, String)] = {
    val requested =
      if (q.measures.nonEmpty) q.measures
      else cat.schema.virtualCube(q.cube)
        .map(_.cubeMeasures.flatMap(_._2))
        .getOrElse(cube.defaultMeasure.toSeq)
    requested.map { m =>
      cube.measure(m).map(md => (md.name, md.alias))
        .getOrElse((m, scala.util.Try(Planner.aliasOfMeasure(cube, m))
          .getOrElse(m)))
    }
  }

  /** CSV with the reference's conventions: header row, empty string for null,
    * RFC-4180 quoting (C8, formatters/csv.rb). */
  def csv(t: Tidy): String = {
    val sb = new StringBuilder
    def cell(v: Any): String = v match {
      case null => ""
      case s: String
        if s.contains(",") || s.contains("\"") || s.contains("\n") =>
        "\"" + s.replace("\"", "\"\"") + "\""
      // plain decimals, never scientific notation (reference emits
      // `13487.16`-style doubles — SURVEY §7.4 dragon 7)
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) String.valueOf(d)
        else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
      case f: java.lang.Float => cell(java.lang.Double.valueOf(f.toDouble))
      case other => String.valueOf(other)
    }
    sb.append(t.headers.map(cell).mkString(",")).append("\r\n")
    t.rows.foreach(r => sb.append(r.map(cell).mkString(",")).append("\r\n"))
    sb.toString()
  }

  /** JSONRecords: array of objects, or {variables, data} arrays when
    * asArrays (the reference's `format=array`; C8 jsonrecords.rb). */
  def jsonRecords(t: Tidy, asArrays: Boolean): String =
    if (asArrays)
      Json.write(scala.collection.immutable.ListMap(
        "variables" -> t.headers, "data" -> t.rows))
    else
      Json.write(t.rows.map(r =>
        scala.collection.immutable.ListMap(t.headers.zip(r): _*)))
}
