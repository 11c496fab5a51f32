package graft.sets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.classify.{Classify, NameCase}
import graft.store.Materialize

/** Dimension ("set") materialization (SURVEY.md §1.1, §2.10; ref
  * `Sets.pm:34-164,222-336`): turn repository metadata into
  * (set_value, id) dimension tables, with multi-value explosion,
  * name normalization, optional anonymization, blacklisting, subject
  * ancestor closure, and grouping bridge tables.
  *
  * Scale posture: set tables are small relative to facts (one row per
  * item x value). They are built once per ETL run with explode +
  * joins, then BROADCAST at query time (QueryCompiler J1/J2). The
  * ancestor closure is an iterative self-join bounded by tree depth —
  * each iteration is a broadcast join against the (tiny) subject tree.
  */
object Sets {

  /** Declarative set definition.
    * @param name        set name (dim table key)
    * @param source      metadata column holding the value(s)
    * @param multiple    explode an array column
    * @param isName      apply NameCase "family, given" normalization
    * @param anonymize   md5 the value (ref `Sets.pm:341-360`)
    * @param blacklist   values to drop */
  final case class SetDef(
      name: String,
      source: String,
      multiple: Boolean = false,
      isName: Boolean = false,
      anonymize: Boolean = false,
      blacklist: Set[String] = Set.empty)

  /** Compound set definition over reference-shaped metadata — an
    * array-of-struct column like `creators = [{name: {family, given},
    * id}, ...]` (ref `Sets.pm:100-132` compound handling,
    * `Sets.pm:378-392` value extraction).
    *
    * Two modes, mirroring the reference exactly:
    *  - `useIds = true` (ref `use_ids`): the set KEY is the
    *    lowercased per-author id sub-field (e.g. `creators_id`), the
    *    rendered display is the NameCased "family, given"; entries
    *    whose id is null/empty are DROPPED (`Sets.pm:385` — `return
    *    [] unless is_set(raw_value->{id_field})`).
    *  - `useIds = false`: only the name part is used — key and
    *    display are both the normalized name, identical to a plain
    *    [[SetDef]] on the pseudo `<field>_name` column
    *    (`Sets.pm:124-130`).
    *
    * @param name      set name (dim table key)
    * @param source    array<struct> metadata column
    * @param useIds    key on the id sub-field instead of the name
    * @param idField   id sub-field name inside the struct (`id`)
    * @param nameField name sub-field holding {family, given}
    * @param anonymize md5 the key (ref `generate_key`/`set_anon`)
    * @param blacklist key values to drop */
  final case class CompoundSetDef(
      name: String,
      source: String,
      useIds: Boolean = true,
      idField: String = "id",
      nameField: String = "name",
      anonymize: Boolean = false,
      blacklist: Set[String] = Set.empty)

  /** Materialize a compound set dim: (set_value, id, rendered) — one
    * row per (item, author-key), the rendered display carried along
    * so [[renderedValues]]-style lookups need no re-derivation.
    * Same scale posture as [[materialize]]: dimension-sized output,
    * one explode + codegen'd projection, no joins. */
  def materializeCompound(meta: DataFrame, d: CompoundSetDef,
      idCol: String = "id"): DataFrame = {
    val ex = meta.select(col(idCol).as("id"), explode(col(d.source)).as("c"))
    val nameStruct = col("c").getField(d.nameField)
    val display = NameCase.displayName(
      nameStruct.getField("family"), nameStruct.getField("given"))
    val keyed =
      if (d.useIds) {
        val rawId = trim(col("c").getField(d.idField).cast("string"))
        ex.filter(rawId.isNotNull && rawId =!= "")
          .select(col("id"), lower(rawId).as("v"), display.as("rendered"))
      } else {
        ex.select(col("id"), display.as("v"), display.as("rendered"))
      }
    // blacklist BEFORE anonymize: filtering after compared the raw
    // blacklist entries against md5 digests and matched nothing —
    // blacklisting was silently disabled for anonymized sets.
    // Blacklist entries match the pre-anonymization (lowercased) key.
    val listed =
      if (d.blacklist.nonEmpty) keyed.filter(!col("v").isin(d.blacklist.toSeq: _*))
      else keyed
    val anon =
      if (d.anonymize) listed.withColumn("v", Classify.anonymize(col("v")))
      else listed
    // dedup over the KEY pair only: distinct() over (v, id, rendered)
    // keeps one row per rendering variant of the same key ("Smith, J."
    // vs "smith, j" on one author id), and the J1 fact join then
    // double-counts that item. One deterministic rendering (max) per
    // (set_value, id).
    anon.filter(col("v").isNotNull && col("v") =!= "")
      .groupBy(col("v").as("set_value"), col("id"))
      .agg(max(col("rendered")).as("rendered"))
  }

  /** Materialize one set dim: (set_value, id). */
  def materialize(meta: DataFrame, d: SetDef, idCol: String = "id"): DataFrame = {
    val exploded =
      if (d.multiple) meta.select(col(idCol).as("id"), explode(col(d.source)).as("v"))
      else meta.select(col(idCol).as("id"), col(d.source).as("v"))
    val normalized = if (d.isName) exploded.withColumn("v", NameCase(col("v"))) else exploded
    // clean + blacklist BEFORE anonymize (see materializeCompound):
    // blacklist entries match the pre-anonymization value
    val cleaned = normalized.filter(col("v").isNotNull && col("v") =!= "")
    val listed =
      if (d.blacklist.nonEmpty) cleaned.filter(!col("v").isin(d.blacklist.toSeq: _*))
      else cleaned
    val anon = if (d.anonymize) listed.withColumn("v", Classify.anonymize(col("v")))
      else listed
    anon.select(col("v").as("set_value"), col("id")).distinct()
  }

  /** Subject ancestor closure (ref `Sets.pm:402-424,461-485`): an
    * item tagged with a subject also counts toward every ancestor.
    * `tree` is (child, parent); iterated to `maxDepth` (tree height),
    * stopping early when a pass adds nothing.
    *
    * Depositability filter (ref `Sets.pm:471-479`): when `depositable`
    * is supplied — (subjectid, depositable) — a non-depositable
    * subject survives the closure only if its id is in `whitelist`
    * (ref `Sets.pm:94-97` set property; `Sets.pm:476-478` "is it in
    * the white-list of non-depositable subjects?"). Subjects absent
    * from the dim are dropped, mirroring the reference's
    * `next unless defined $s`. With no `depositable` dim the closure
    * is unfiltered (legacy behavior).
    *
    * Each round materializes the accumulator (same treatment as
    * `Graph.pageRank`) so the final plan depth is O(1) in `maxDepth`
    * instead of stacking `maxDepth` unions/excepts of lineage —
    * guarded by PlanShapeSpec ("ancestorClosure plan depth"). The
    * superseded rounds are freed on return; the returned closure reads
    * the last accumulator, which the caller owns
    * ([[graft.store.Materialize]]). */
  def ancestorClosure(assignments: DataFrame, tree: DataFrame,
      maxDepth: Int = 12,
      depositable: Option[DataFrame] = None,
      whitelist: Set[String] = Set.empty): DataFrame =
    Materialize.scope(assignments.sparkSession, "Sets.ancestorClosure") { m =>
      // assignments: (set_value, id); tree: (child, parent)
      val t = broadcast(tree.select(col("child"), col("parent")).distinct())
      // the accumulator is assignment-scale (one row per item x
      // ancestor) and survives the whole loop
      var acc = m("acc")(assignments.select("set_value", "id").distinct())
      var frontier = acc
      var depth = 0
      var growing = true
      while (growing && depth < maxDepth) {
        val parents = frontier
          .join(t, frontier("set_value") === t("child"))
          .select(col("parent").as("set_value"), col("id"))
          .distinct()
        val added = m("added")(parents.except(acc))
        if (added.isEmpty) growing = false
        else {
          acc = m("acc")(acc.unionByName(added).distinct())
          frontier = added
        }
        depth += 1
      }
      depositable.fold(acc) { dep =>
        val d = broadcast(dep
          .select(col("subjectid"), col("depositable").cast("boolean").as("depositable"))
          .distinct())
        val whitelisted =
          if (whitelist.nonEmpty) col("subjectid").isin(whitelist.toSeq: _*)
          else lit(false)
        acc.join(d, acc("set_value") === d("subjectid"), "left")
          .filter(coalesce(col("depositable") || whitelisted, lit(false)))
          .select(acc("set_value"), acc("id"))
      }
    }

  /** Grouping bridge (ref `Handler.pm:942-977`): pre-joined pairs of
    * set membership x grouping membership per item, so "top G within
    * set S=v" is one join at query time. */
  def groupingBridge(setDim: DataFrame, groupingDim: DataFrame): DataFrame =
    setDim.select(col("set_value"), col("id"))
      .join(groupingDim.select(col("set_value").as("grouping_value"), col("id")), "id")
      .select("set_value", "id", "grouping_value")

  /** Rendered display values (ref `Handler.pm:980-1006`): set_value ->
    * display string; identity unless a render map is supplied. */
  def renderedValues(setDim: DataFrame,
      render: Option[Column => Column] = None): DataFrame = {
    val v = col("set_value")
    setDim.select(v, render.map(f => f(v)).getOrElse(v).as("rendered")).distinct()
  }

  /** Set-finder lookup (ref `Handler.pm:778-821`): the rendered set
    * values, optionally narrowed to `%substring%` — the query behind
    * the author-search box, hit on every keystroke. User input is
    * treated as a LITERAL substring: LIKE metacharacters (`%`, `_`,
    * and the escape char itself) are escaped, mirroring the
    * reference's `prep_like_value` (`Database.pm`), so a search for
    * "100%" cannot turn into a wildcard scan of everything. Ordering
    * is collation-aware (ref `:803-807`, MySQL utf8_unicode_ci):
    * case-insensitive primary + raw value and key tiebreaks keep it
    * total and engine-reproducible. The LIKE is a codegen'd substring
    * scan over the (small, distinct) rendered-values dim — at 100 TB
    * this table is set-cardinality-sized, not fact-sized, so a full
    * scan per keystroke is the right plan (the reference also scans,
    * via its dedicated rendered-values table). */
  def setFinder(rendered: DataFrame, like: Option[String] = None,
      valueCol: String = "set_value",
      renderedCol: String = "rendered"): DataFrame = {
    val narrowed = like.filter(_.nonEmpty).fold(rendered) { l =>
      val esc = l.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
      rendered.filter(col(renderedCol).like(s"%$esc%"))
    }
    narrowed.orderBy(lower(col(renderedCol)), col(renderedCol), col(valueCol))
  }
}
