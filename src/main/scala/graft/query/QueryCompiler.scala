package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Context
import graft.plans.OnePartition

/** Compiles a [[graft.model.Context]] into a DataFrame plan with the
  * reference's canonical query shape (SURVEY.md §2.4 A2, §3 step 8;
  * ref `Handler.pm:219-406` `extract_eprint_data`,
  * `Handler.pm:415-649` `extract_set_data`):
  *
  * {{{
  * SELECT dims, SUM(count) AS count
  * FROM fact [JOIN set_dim ON id] [JOIN bridge ON id]
  * WHERE date range AND datafilter AND set/grouping predicates
  * GROUP BY dims ORDER BY SUM(count) DESC LIMIT n OFFSET m
  * }}}
  *
  * Scale notes (100 TB posture):
  *  - the fact table is date-partitioned, so the F8 date-range predicate
  *    prunes partitions before any I/O;
  *  - dim tables (sets) are small relative to facts — on the parallel
  *    path they are broadcast (`broadcast()` hint) so the fact side
  *    never shuffles for the join;
  *  - the aggregation is a hash aggregate with map-side partial
  *    aggregation; Catalyst handles the partial/final split;
  *  - LIMIT after ORDER BY compiles to `TakeOrderedAndProject` — top-N
  *    without a global sort;
  *  - a small input runs as one partition. When the files the query
  *    scans after date pruning hold at most
  *    `spark.sql.files.openCostInBytes` bytes (4 MiB by default; the
  *    size rule of [[graft.plans.OnePartition]]), the source is read
  *    with `coalesce(1)`. The partial and final aggregate, the ordering, the limit
  *    and the view steps above them (`Series.regroup`/`cumulative`,
  *    `KeyFigures`) then see `SinglePartition` and plan no exchange,
  *    and the first set dim joins in the same task by hash (see
  *    `dimSide`): most requests run as one job of one task. The byte
  *    count comes from the source relation's file index on the
  *    driver, with the date predicates as partition filters, so
  *    sizing starts no Spark job; a source that is not a file
  *    relation (a computed fact frame) keeps the parallel plan.
  */
object QueryCompiler {

  /** A registered "set" dimension: id → set_value mapping
    * (ref `irstats2_sets_<set>`, `Handler.pm:920-940`). */
  final case class SetDim(df: DataFrame, idCol: String = "id",
      valueCol: String = "set_value")

  final case class Catalog(
      facts: Map[String, DataFrame],              // datatype → fact(date,id,value,count)
      sets: Map[String, SetDim] = Map.empty,      // set_name → dim
      liveFilter: Option[DataFrame] = None,       // F6 archive-only ids (one col "id")
      lifetime: Map[String, DataFrame] = Map.empty) // A5 MV: datatype → (id,value,count)

  /** A5 cache-table substitution (ref `Data.pm:128-139`): an all-time
    * query (no date bounds, datestamp unselected) is answered from the
    * lifetime-totals materialized view instead of scanning every fact
    * partition. The reference does this swap in its query layer too —
    * it is a semantic rewrite the optimizer can't infer. */
  private def substituteLifetime(ctx: Context, cat: Catalog): Option[DataFrame] =
    // range = _ALL_ survives Context.resolved() with from/to cleared —
    // it IS the all-time query, so it must not block the MV swap (it
    // did: the one query the MV exists for scanned every partition)
    if (ctx.from.isEmpty && ctx.to.isEmpty &&
        ctx.range.forall(_ == "_ALL_") &&
        !ctx.fields.contains("date"))
      cat.lifetime.get(ctx.datatype)
    else None

  def compile(ctx: Context, cat: Catalog): DataFrame = {
    // an UNRESOLVED symbolic range would otherwise be silently ignored
    // (compile consumes only from/to) — a '6m' request answered with
    // all-time sums. Every production caller resolves first
    // (Report/ReportCache/QueryCli); fail loudly for the rest.
    require(ctx.range.forall(r =>
        r == "_ALL_" || ctx.from.isDefined || ctx.to.isDefined),
      s"context range '${ctx.range.getOrElse("")}' is unresolved — " +
        "call Context.resolved(today) before compile")
    var df = substituteLifetime(ctx, cat)
      .orElse(cat.facts.get(ctx.datatype))
      .getOrElse(throw new IllegalArgumentException(s"unknown datatype ${ctx.datatype}"))

    // F8 date-range predicate (ref Handler.pm:325-340): from==to ⇒ equality
    (ctx.from, ctx.to) match {
      case (Some(f), Some(t)) if f == t => df = df.filter(col("date") === lit(java.sql.Date.valueOf(f)))
      case (f, t) =>
        f.foreach(d => df = df.filter(col("date") >= lit(java.sql.Date.valueOf(d))))
        t.foreach(d => df = df.filter(col("date") <= lit(java.sql.Date.valueOf(d))))
    }
    // F7 datafilter (ref Handler.pm:296-301): constant column pruned from SELECT
    ctx.datafilter.foreach(v => df = df.filter(col("value") === v))
    // a small stored input runs as one partition (Scale notes above)
    val single = OnePartition.scanBytes(df).exists(OnePartition.fits(df.sparkSession, _))
    if (single) df = df.coalesce(1)
    // F6 archive-only semi-join (ref Handler.pm:356-360)
    cat.liveFilter.foreach(live => df = df.join(broadcast(live), Seq("id"), "left_semi"))

    // A dim joins a single-partition fact as one partition too, hashed
    // in the same task: no broadcast job, no exchange. Membership there
    // is an inner join on the distinct ids, not a left_semi: the
    // optimizer pushes a left_semi below the fact's coalesce, where the
    // fact is multi-partition again and the hash join needs exchanges.
    // Only the first dim join can be hashed so: Spark keeps a hash
    // join's inputs unshuffled only when each reports SinglePartition
    // with an estimated size under `spark.sql.maxSinglePartitionBytes`,
    // and a join's output reports neither (a partitioning collection,
    // sized as the product of its inputs). A second dim join
    // (grouping) stays broadcast.
    def dimSide(d: DataFrame): DataFrame =
      if (single) d.coalesce(1).hint("shuffle_hash") else broadcast(d)
    def members(ids: DataFrame): DataFrame =
      if (single) df.join(ids.coalesce(1).distinct().hint("shuffle_hash"), Seq("id"))
      else df.join(broadcast(ids), Seq("id"), "left_semi")

    // J1/J2: set / grouping joins (ref Handler.pm:439-536, 575-648)
    val groupCols: Seq[String] = ctx.setName match {
      case Some(set) if !ctx.setName.contains("eprint") =>
        val dim = cat.sets.getOrElse(set,
          throw new IllegalArgumentException(s"unknown set $set"))
        ctx.grouping match {
          case Some(g) =>
            // grouping query: restrict to set_value, group by the grouping
            // set's values ("top authors within division X").
            require(!ctx.setName.contains(g), "self-grouping is a logic error") // ref Handler.pm:586-590
            val gdim = cat.sets.getOrElse(g,
              throw new IllegalArgumentException(s"unknown grouping $g"))
            var d = dim.df
            ctx.setValue.foreach(v => d = d.filter(col(dim.valueCol) === v))
            df = members(d.select(col(dim.idCol).as("id")))
            df = df.join(broadcast(gdim.df.select(col(gdim.idCol).as("id"),
              col(gdim.valueCol).as("grouping_value"))), Seq("id"))
            Seq("grouping_value")
          case None =>
            var d = dim.df.select(col(dim.idCol).as("id"),
              col(dim.valueCol).as("set_value"))
            ctx.setValue.foreach(v => d = d.filter(col("set_value") === v))
            if (ctx.setValue.isDefined) {
              // pinned set value: set_value is not in the output, so
              // the join is pure MEMBERSHIP — left_semi, like F6. An
              // inner join would re-expose duplicate-pair inflation
              // and carry a dead column through the aggregate.
              df = members(d.select("id"))
              ctx.fields
            } else {
              df = df.join(dimSide(d), Seq("id"))
              Seq("set_value")
            }
        }
      case _ =>
        // eprint path: optional point filter on id; a non-numeric set
        // value matches nothing (the reference's empty-result posture)
        // rather than throwing NumberFormatException mid-compile.
        ctx.setValue.foreach { v =>
          df = scala.util.Try(v.toLong).toOption match {
            case Some(id) => df.filter(col("id") === id)
            case None => df.filter(lit(false))
          }
        }
        ctx.fields
    }

    val dims = (if (groupCols.nonEmpty) groupCols else ctx.fields).distinct
    var out = df.groupBy(dims.map(col): _*).agg(sum("count").as("count"))

    // O1 ordering (ref Handler.pm:373-381): default SUM(count) DESC, with a
    // deterministic tie-break on the dims (the reference leaves ties
    // DB-dependent; we pin them — SURVEY §7.4 item 2).
    val primary = ctx.orderBy.getOrElse("count")
    val lead = if (ctx.orderDesc) col(primary).desc else col(primary).asc
    val ties = dims.filterNot(_ == primary).map(col(_).asc)
    out = out.orderBy(lead +: ties: _*)

    // O2 limit/offset (ref Handler.pm:1317-1337)
    ctx.offset.foreach(o => out = out.offset(o))
    ctx.limit.foreach(n => out = out.limit(n))
    out
  }
}
