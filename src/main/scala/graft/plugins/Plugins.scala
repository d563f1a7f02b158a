package graft.plugins

import graft.functions.PathFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-business watch rule, mirroring fsnotify.Rule
  * (/root/reference/watchdog/lib/fsnotify/fsnotify.go:21-30):
  * regex include/exclude + nesting cap + debounce gap.
  */
case class WatchRule(
    biz: String,
    patterns: String = "",
    ignores: String = "",
    maxNestingLevel: Long = 0,
    debounceMs: Long = 3000,
    historyImport: Boolean = true)

/** A graft plugin is the reference Plugin interface
  * (/root/reference/plugins/plugin.go:25-36) reduced to its data
  * semantics: a rule that scopes the file feed plus a Transform over
  * the enriched records. CheckFile's "skip foreign biz rows" becomes
  * the biz filter; AutoInit's handler wiring is the sink layer
  * (StreamOps.kafkaEnvelope / FileMetaOps.writePartitionedByDate,
  * whose written days are swapped in through sources.DirSwap).
  */
trait GraftPlugin {
  def name: String
  def rule: WatchRule

  /** ETL hook (Transform): enrich/override columns of this biz's rows.
    * Input and output schema: the FileMeta record columns.
    */
  def transform(df: DataFrame): DataFrame = df

  /** Rule filter as a Column predicate over a `path` column. */
  final def pathFilter: Column =
    PathFns.ruleFilter(col("path"), rule.patterns, rule.ignores,
      rule.maxNestingLevel)
}

/** BSI (/root/reference/plugins/BSI.go): subdir must have 4-5 path
  * segments; the test-id tail timestamp overrides folder_time and
  * create_time.
  */
class BsiPlugin(val rule: WatchRule) extends GraftPlugin {
  override def name: String = rule.biz
  override def transform(df: DataFrame): DataFrame = {
    val segs = size(split(col("folder"), "/"))
    val testId = element_at(split(col("folder"), "/"), -1)
    val parsed = PathFns.bsiTestIdTime(testId)
    df.withColumn("folder_time",
        when(segs.isin(4, 5) && parsed.isNotNull, parsed)
          .otherwise(col("folder_time")))
      .withColumn("create_time",
        when(segs.isin(4, 5) && parsed.isNotNull, parsed)
          .otherwise(col("create_time")))
  }
}

/** SPI (/root/reference/plugins/SPI.go): default behavior only. */
class SpiPlugin(val rule: WatchRule) extends GraftPlugin {
  override def name: String = rule.biz
}

/** Plugin registry + autoload from ini config, mirroring
  * plugins.Register/Autoload (plugin.go:188-221): sections with a
  * `watch` key become plugin instances named by the section prefix.
  */
object PluginRegistry {
  private val constructors =
    scala.collection.mutable.Map[String, WatchRule => GraftPlugin](
      "BSI" -> (r => new BsiPlugin(r)),
      "SPI" -> (r => new SpiPlugin(r)))

  def register(kind: String, ctor: WatchRule => GraftPlugin): Unit =
    constructors(kind.toUpperCase) = ctor

  def autoload(config: IniConfig): Seq[GraftPlugin] =
    config.sections.filter(_.values.contains("watch")).flatMap { sec =>
      val kind = sec.name.split("\\.").head.toUpperCase
      // switch=false disables a section (DefaultPlugin.IsActive)
      val active = sec.values.get("switch").forall(_ != "false")
      constructors.get(kind).filter(_ => active).map { ctor =>
        ctor(WatchRule(
          biz = sec.name,
          patterns = sec.values.getOrElse("patterns", ""),
          ignores = sec.values.getOrElse("ignores", ""),
          maxNestingLevel = sec.values.getOrElse("max_nesting_level", "0").toLong,
          debounceMs = sec.values.getOrElse("debounce", "3000").toLong,
          historyImport = sec.values.getOrElse("history_import", "true") != "false"))
      }
    }

  /** Apply the plugin pipeline to a FileMeta record feed carrying a
    * `biz` tag + `path` column: each plugin filters its rows by rule
    * and applies its Transform; the union is the processed feed (the
    * serial hook chain of watchdog.fileProcessor, parallelized by biz).
    */
  def pipeline(records: DataFrame, plugins: Seq[GraftPlugin]): DataFrame = {
    require(plugins.nonEmpty,
      "PluginRegistry.pipeline: no active plugins — check the ini " +
      "[sections] have a `watch` key and are not disabled via switch=false")
    plugins.map { p =>
      p.transform(records.filter(col("biz") === p.name && p.pathFilter))
    }.reduce(_ unionByName _)
  }
}

/** Minimal ini parser (sections, key=value, `;` comments) for
  * logagent.ini-style config — no external deps.
  */
case class IniSection(name: String, values: Map[String, String])
case class IniConfig(sections: Seq[IniSection])

object IniConfig {
  def parse(text: String): IniConfig = {
    val sections = scala.collection.mutable.ArrayBuffer[IniSection]()
    var cur = "" // global section
    var vals = scala.collection.mutable.Map[String, String]()
    def flush(): Unit = {
      if (cur.nonEmpty || vals.nonEmpty)
        sections += IniSection(cur, vals.toMap)
      vals = scala.collection.mutable.Map[String, String]()
    }
    text.linesIterator.map(_.trim).foreach {
      case l if l.isEmpty || l.startsWith(";") || l.startsWith("#") => ()
      case l if l.startsWith("[") && l.endsWith("]") =>
        flush(); cur = l.substring(1, l.length - 1)
      case l if l.contains("=") =>
        val Array(k, v) = l.split("=", 2)
        vals(k.trim) = v.trim
      case _ => ()
    }
    flush()
    IniConfig(sections.toSeq)
  }
}
