package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything the repo knows about one named batch query, in one place.
  *
  * @param name   the driver-contract key (`SparkEntry.queries`)
  * @param build  constructs the query over the parquet tables in a
  *               scale-factor directory
  * @param oracle DuckDB SQL over the same tables with identical output
  *               column names (`SparkEntry.oracleSql`); read it through
  *               [[oracle]], which re-evaluates it on every read
  * @param note   plan-audit note printed by `graft.Explain` — oracle-shape
  *               queries name their scale path here
  * @param twin   the partner of an oracle-anchor / scale-path pair: a
  *               `_scale` or `_exact` query and the query it shadows each
  *               name the other
  */
final class QuerySpec(
    val name: String,
    val build: QuerySpec.Build,
    oracleSql: => Option[String],
    val note: Option[String],
    val twin: Option[String]) {

  /** By-name on purpose: text_bpe_tokens and text_unigram_tokens embed the
    * artifact their query trained, so their SQL only exists after the run.
    */
  def oracle: Option[String] = oracleSql
}

object QuerySpec {
  type Build = (SparkSession, String) => DataFrame

  def apply(
      name: String,
      build: Build,
      oracle: => Option[String] = None,
      note: Option[String] = None,
      twin: Option[String] = None): QuerySpec =
    new QuerySpec(name, build, oracle, note, twin)
}

/** The query registry: one `QuerySpec` per query, one file per family. */
object QueryRegistry {
  val all: Seq[QuerySpec] =
    EmitterQueries.specs ++ RelationalQueries.specs ++ PipelineQueries.specs ++
      MultimodalQueries.specs ++ TrainingQueries.specs ++ WebQueries.specs

  val byName: Map[String, QuerySpec] = all.map(q => q.name -> q).toMap

  /** Scale path a note names (`Scale path: q_profile_scale (...)`). */
  private val ScalePathRef = """Scale paths?: ([a-z][a-z0-9_]*)""".r

  /** Consistency defects of `specs`, empty when it is a valid registry:
    * duplicate names (a `Map` keeps only the last one), twins that are not
    * registered or do not point back, and notes citing an unregistered
    * scale path.
    */
  def problems(specs: Seq[QuerySpec]): Seq[String] = {
    val names = specs.map(_.name)
    val known = names.toSet
    val twinOf = specs.flatMap(q => q.twin.map(q.name -> _)).toMap
    val dups = names.diff(names.distinct).distinct.map(n => s"duplicate name $n")
    val twins = twinOf.toSeq.sorted.collect {
      case (n, t) if t == n => s"$n: twin of itself"
      case (n, t) if !known(t) => s"$n: twin $t is not registered"
      case (n, t) if twinOf.get(t) != Some(n) => s"$n: twin $t does not name $n back"
    }
    val notes = for {
      q <- specs
      n <- q.note.toSeq
      m <- ScalePathRef.findAllMatchIn(n)
      if !known(m.group(1))
    } yield s"${q.name}: note cites unregistered query ${m.group(1)}"
    dups ++ twins ++ notes
  }
}
