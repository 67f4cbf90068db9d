package graft.curation

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.curation.Ck._

/** Fresh-load (empty-store) curation pipeline — the Spark-native
  * re-expression of the reference's `Curator` five-phase flow
  * (`oc_meta/core/curator.py:253-338`, SURVEY §3.1) for the scenario its
  * benchmark calls "preload" (§6): no preexisting triplestore state.
  *
  * Staged DataFrame program:
  *   P1' parse/validate/normalize every cell (distributed, one pass)
  *   P2' bibliographic-resource resolution = connected components over
  *       shared identifiers, venue mentions included (a multi-id venue can
  *       bridge two rows — the reference's wannabe-merge D2(4) does the
  *       same)
  *   P3' responsible-agent resolution = id-CC + in-sequence name adoption
  *       (publishers never name-match, D5); editors of container types
  *       attach to the venue BR (D7)
  *   P4' deterministic OMID assignment replicating the reference's counter
  *       order: all row BRs first (P2), then per-row venue/volume/issue
  *       (P3), ids phase 0 = row ids then phase 1 = venue->author->
  *       publisher->editor ids (verified against
  *       test/testcases/testcase_data/indices/01 numbering)
  *   P5' curated rows + index tables (indexer, curator.py:1045-1101)
  *
  * Known fresh-world approximations vs the full reference (round-2 work,
  * tracked in COVERAGE.md): no store equalizer (J5/J6 precedence), no
  * `clean_metadata_without_id` no-id metadata merge, field propagation
  * within a merged component takes first-non-empty in row order.
  */
object Curator {

  /** Venue-mention entity ids live above this offset in the shared CC
    * space so row BRs (labeled by row_idx) always win the min-label race
    * and venue mentions resolving to a row inherit its component. */
  private val VenueOffset = 1L << 40

  /** Curated batch: user-facing tables (rows + the reference's index
    * tables) plus normalized entity-level frames feeding RDF emission
    * (graft.rdf.TriplesEmitter):
    *  - entities(meta, kind, type_label, title, date, seq_id)
    *  - entityIds(owner_meta, id_meta, scheme, literal)
    *  - roles(br_meta, role, pos, ar_meta, ra_meta)
    *  - raNames(ra_meta, name) — "Family, Given" or org name
    *  - pages(br_meta, re_meta, start_page, end_page)
    *  - partOf(child_meta, parent_meta)
    *
    * Every field is a lazy val over a by-name constructor argument,
    * evaluated the first time a caller reads the field and never when
    * nobody does: this is what lets `checkpointed` defer each checkpoint.
    */
  final class CuratedBatch private (
      rows0: => DataFrame,
      indexIdBr0: => DataFrame,
      indexIdRa0: => DataFrame,
      arIndex0: => DataFrame,
      reIndex0: => DataFrame,
      vviIndex0: => DataFrame,
      entities0: => DataFrame,
      entityIds0: => DataFrame,
      roles0: => DataFrame,
      raNames0: => DataFrame,
      pages0: => DataFrame,
      partOf0: => DataFrame,
      explicitRefs0: => DataFrame,
      rowProp0: => DataFrame) {
    lazy val rows: DataFrame = rows0
    lazy val indexIdBr: DataFrame = indexIdBr0
    lazy val indexIdRa: DataFrame = indexIdRa0
    lazy val arIndex: DataFrame = arIndex0
    lazy val reIndex: DataFrame = reIndex0
    lazy val vviIndex: DataFrame = vviIndex0
    lazy val entities: DataFrame = entities0
    lazy val entityIds: DataFrame = entityIds0
    lazy val roles: DataFrame = roles0
    lazy val raNames: DataFrame = raNames0
    lazy val pages: DataFrame = pages0
    lazy val partOf: DataFrame = partOf0
    /** explicit `omid:` references carried by venue/agent cells
      * (owner_meta, ref) — unresolvable in a fresh world (D2(2)
      * discards them) but the store-adoption key for StoreCurator. */
    lazy val explicitRefs: DataFrame = explicitRefs0
    /** J6 per-row propagation feed (br_meta, row_idx, date, type2,
      * vol3, iss3, br_ids, explicit_omid): the fresh collapse keeps
      * last-row values (merge_duplicate_entities is donor-gated,
      * curator.py:1374, and fresh batches have no resolved donors),
      * but StoreCurator needs each row's cleaned fields plus its own
      * resolution keys to decide which rows may donate. */
    lazy val rowProp: DataFrame = rowProp0

    /** Each frame localCheckpoint'ed on its first read, and only once —
      * callers that consume a frame more than once use this so its
      * curation DAG executes exactly once (see the graft-driver-contract
      * checkpoint discipline). Calling it starts no job, and a frame no
      * caller reads is never planned or run: a MetaProcess file that
      * only emits the graph skips the CSV rows and the index tables. */
    def checkpointed: CuratedBatch = new CuratedBatch(
      rows.localCheckpointClamped(), indexIdBr.localCheckpointClamped(),
      indexIdRa.localCheckpointClamped(), arIndex.localCheckpointClamped(),
      reIndex.localCheckpointClamped(), vviIndex.localCheckpointClamped(),
      entities.localCheckpointClamped(), entityIds.localCheckpointClamped(),
      roles.localCheckpointClamped(), raNames.localCheckpointClamped(),
      pages.localCheckpointClamped(), partOf.localCheckpointClamped(),
      explicitRefs.localCheckpointClamped(), rowProp.localCheckpointClamped())
  }

  object CuratedBatch {
    def apply(rows: => DataFrame, indexIdBr: => DataFrame,
        indexIdRa: => DataFrame, arIndex: => DataFrame, reIndex: => DataFrame,
        vviIndex: => DataFrame, entities: => DataFrame,
        entityIds: => DataFrame, roles: => DataFrame, raNames: => DataFrame,
        pages: => DataFrame, partOf: => DataFrame,
        explicitRefs: => DataFrame, rowProp: => DataFrame): CuratedBatch =
      new CuratedBatch(rows, indexIdBr, indexIdRa, arIndex, reIndex,
        vviIndex, entities, entityIds, roles, raNames, pages, partOf,
        explicitRefs, rowProp)
  }

  /** S1 — CSV scan (file_manager.py:99-120): 11 string columns, header,
    * quoted cells, NULs stripped, nulls -> "". */
  def readInput(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Validation.InputColumns.map(StructField(_, StringType, nullable = true)))
    val raw = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
    raw.select(Validation.InputColumns.map(c =>
      regexp_replace(coalesce(col(c), lit("")), "\\x00", "").as(c)): _*)
  }

  private def withRowIndex(df: DataFrame, name: String): DataFrame = {
    val schema = df.schema.add(name, LongType, nullable = false)
    df.sparkSession.createDataFrame(
      df.rdd.zipWithIndex().map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  private def nonBlank(c: Column): Column = c.isNotNull && length(c) > 0

  /** First non-empty value of `valueCol` in row order within a group —
    * min over struct(row_idx, value) restricted to non-empty values.
    * Shared with StoreCurator's donor aggregation. */
  private[curation] def firstNonEmpty(valueCol: Column, rowIdx: Column): Column =
    min(when(nonBlank(valueCol), struct(rowIdx, valueCol))).getField(valueCol.toString())

  /** @param normalizeTitles the reference's `normalize_titles` setting
    *   (default False there too; its test suite runs with True): E3
    *   clean_title applied to the title column and venue names. */
  def curateFresh(input: DataFrame, prefix: String = "060",
      numberOffset: Long = 0L, normalizeTitles: Boolean = false): CuratedBatch = {
    val spark = input.sparkSession
    import spark.implicits._

    // ---- P1': validate + parse ------------------------------------------
    val (pv, pi, pt) = Validation.prePass($"id", $"venue", $"volume", $"issue", $"type")
    val prepassed = input
      .withColumn("volume", pv).withColumn("issue", pi).withColumn("type", pt)
    val trimmed = prepassed.select(Validation.InputColumns.map(c => trim(col(c)).as(c)): _*)
    // Index BEFORE the validity filter: withRowIndex is an RDD barrier, so
    // isValidRow evaluates against materialized attributes. Filtering first
    // let Catalyst substitute the readInput/prePass/trim expression towers
    // into the filter's 11-column CASE chain — the generated method blew
    // janino's 64 KB limit and dropped the whole scan stage out of
    // whole-stage codegen (and re-paid a failed ~1 s compile per batch
    // plan). row_idx keeps gaps where invalid rows fell; every consumer is
    // ordinal (min-label CC, first-non-empty, sequence ordering), so a
    // monotone relabeling with gaps is semantically identical.
    val indexed = withRowIndex(trimmed, "row_idx")
      .filter(Validation.isValidRow($"id", $"title", $"author",
        $"pub_date", $"venue", $"volume", $"issue", $"page", $"type", $"publisher", $"editor"))

    val (v1, i1) = Validation.dropViForNonJournal(Validation.canonicalType($"type"), $"volume", $"issue")
    val parsed0 = indexed
      .withColumn("type_c", Validation.canonicalType($"type"))
      .withColumn("vol1", v1).withColumn("iss1", i1)
      .withColumn("vi", Parsing.cleanVolumeIssueUdf($"vol1", $"iss1", $"pub_date", $"type_c"))
      .withColumn("vol2", $"vi._1").withColumn("iss2", $"vi._2")
      .withColumn("date0", $"vi._3").withColumn("type2", $"vi._4")
    val (ven3, vol3, iss3) = Validation.journalViInvalidation($"type2", $"venue", $"vol2", $"iss2")
    val parsed = parsed0
      .withColumn("venue3", ven3).withColumn("vol3", vol3).withColumn("iss3", iss3)
      .withColumn("br_ids", Parsing.parseIdCellUdf($"id"))
      .withColumn("explicit_omid", Parsing.explicitOmidUdf($"id"))
      .withColumn("date", Parsing.cleanDateUdf($"date0"))
      .withColumn("page_n", Parsing.normalizeHyphensUdf($"page"))
      .withColumn("title",
        if (normalizeTitles) graft.functions.CleaningColumns.cleanTitleCol($"title") else $"title")
      .withColumn("venue_p", Parsing.parseVenueUdf($"venue3"))
      .withColumn("venue_p",
        if (normalizeTitles)
          when($"venue_p".isNotNull, struct(
            graft.functions.CleaningColumns.cleanTitleCol($"venue_p._1").as("_1"),
            $"venue_p._2".as("_2"),
            $"venue_p._3".as("_3")))
        else $"venue_p")
      .withColumn("authors", Parsing.parseAgentsUdf($"author"))
      .withColumn("publishers", Parsing.parseAgentsUdf($"publisher"))
      .withColumn("editors", Parsing.parseAgentsUdf($"editor"))
      .drop("vi", "vol1", "iss1", "vol2", "iss2", "date0")
      .localCheckpointClamped()

    // ---- P2': BR + venue resolution (one CC over shared ids) ------------
    val rowMembership = parsed.select($"row_idx".as("entity"), explode($"br_ids").as("key"))
    val venueMembership = parsed
      .filter($"venue_p".isNotNull && size($"venue_p._2") > 0)
      .select(($"row_idx" + VenueOffset).as("entity"), explode($"venue_p._2").as("key"))
    val cc = ConnectedComponents.byShardKey(rowMembership.union(venueMembership))

    val withComp = parsed
      .join(cc.withColumnRenamed("entity", "row_idx").withColumnRenamed("component", "cc_label"),
        Seq("row_idx"), "left")
      .withColumn("br_comp", coalesce($"cc_label", $"row_idx"))
      .drop("cc_label")

    // venue entity label per venue-bearing row: CC label for id-venues
    // (may be a row component), unique per-row entity for no-id venues
    // (curator.py:509-517 creates a fresh wannabe each time).
    val venueCc = cc.filter($"entity" >= VenueOffset)
      .select(($"entity" - VenueOffset).as("row_idx"), $"component".as("venue_cc"))
    val rows = withComp
      .join(venueCc, Seq("row_idx"), "left")
      .withColumn("venue_ent",
        when($"venue_p".isNull, lit(null))
          .when(size($"venue_p._2") > 0, $"venue_cc")
          .otherwise($"row_idx" + VenueOffset))
      .drop("venue_cc")
      .localCheckpointClamped()

    // Sequence-impl dispatch for the whole batch: ONE cheap count on the
    // checkpointed rows frame decides lazy-window vs distributed
    // zipWithIndex for every sequence below, so corpus-scale batches never
    // funnel through a single unpartitioned-window task while small
    // batches keep the lazy plan (an eager count per sequence doubled
    // fresh-load wall time at small n).
    val batchSeq: (DataFrame, Seq[Column], String, Long) => DataFrame =
      if (rows.count() <= Sequencing.LazyWindowMaxRows)
        (df, cols, name, off) => Sequencing.globalSequence(df, cols, name, off)
      else
        (df, cols, name, off) => Sequencing.globalSequenceDistributed(df, cols, name, off)

    // ---- VVI entities (D4) ----------------------------------------------
    // volume/issue sequence entities per venue; journal volume/issue rows
    // are themselves the entity.
    val jaVols = rows.filter(nonBlank($"vol3") && $"type2".isin("journal article", "journal issue")
        && $"venue_ent".isNotNull)
      .select($"venue_ent", $"vol3".as("vol_seq"), $"row_idx")
    val jvRows = rows.filter($"type2" === "journal volume" && nonBlank($"vol3") && $"venue_ent".isNotNull)
      .select($"venue_ent", $"vol3".as("vol_seq"), $"row_idx", $"br_comp")
    val volEntities = jaVols.select($"venue_ent", $"vol_seq", $"row_idx", lit(null).cast("long").as("own_comp"))
      .union(jvRows.select($"venue_ent", $"vol_seq", $"row_idx", $"br_comp".as("own_comp")))
      .groupBy($"venue_ent", $"vol_seq")
      .agg(min($"row_idx").as("first_row"), min($"own_comp").as("row_entity"))

    val jaIss = rows.filter(nonBlank($"iss3") && $"type2" === "journal article" && $"venue_ent".isNotNull)
      .select($"venue_ent", coalesce($"vol3", lit("")).as("vol_seq"), $"iss3".as("iss_seq"), $"row_idx")
    val jiRows = rows.filter($"type2" === "journal issue" && nonBlank($"iss3") && $"venue_ent".isNotNull)
      .select($"venue_ent", coalesce($"vol3", lit("")).as("vol_seq"), $"iss3".as("iss_seq"), $"row_idx", $"br_comp")
    val issEntities = jaIss.withColumn("own_comp", lit(null).cast("long"))
      .unionByName(jiRows.withColumnRenamed("br_comp", "own_comp"))
      .groupBy($"venue_ent", $"vol_seq", $"iss_seq")
      .agg(min($"row_idx").as("first_row"), min($"own_comp").as("row_entity"))

    // ---- P4': BR numbering ----------------------------------------------
    // phase 0: row components (P2 order = min row_idx = component label);
    // phase 1: new venue entities then volumes then issues per first row.
    val rowComps = rows.select($"br_comp".as("ent")).distinct()
      .select($"ent", lit(0).as("phase"), $"ent".as("k1"), lit(0).as("k2"))
    val newVenues = rows.filter($"venue_ent".isNotNull && $"venue_ent" >= VenueOffset)
      .groupBy($"venue_ent").agg(min($"row_idx").as("k1"))
      .select($"venue_ent".as("ent"), lit(1).as("phase"), $"k1", lit(0).as("k2"))
    // vvi entities that are NOT row entities need fresh OMIDs; key them in
    // a separate entity space (negative ids derived from their sequence).
    val newVols = volEntities.filter($"row_entity".isNull)
      .select(struct($"venue_ent", $"vol_seq").as("vk"), $"first_row")
    val newIss = issEntities.filter($"row_entity".isNull)
      .select(struct($"venue_ent", $"vol_seq", $"iss_seq").as("ik"), $"first_row")

    val brEnts = rowComps.unionByName(newVenues)
    // volumes/issues interleave with venues in phase 1 by (first_row, slot):
    // renumber all BR-kind entities together for final ids.
    val volKeyed = newVols.select(lit(null).cast("long").as("ent"), $"vk",
      lit(null).cast(newIss.schema("ik").dataType).as("ik"),
      lit(1).as("phase"), $"first_row".as("k1"), lit(1).as("k2"))
    val issKeyed = newIss.select(lit(null).cast("long").as("ent"),
      lit(null).cast(newVols.schema("vk").dataType).as("vk"), $"ik",
      lit(1).as("phase"), $"first_row".as("k1"), lit(2).as("k2"))
    val allBrEnts = brEnts
      .select($"ent", lit(null).cast(newVols.schema("vk").dataType).as("vk"),
        lit(null).cast(newIss.schema("ik").dataType).as("ik"), $"phase", $"k1", $"k2")
      .unionByName(volKeyed).unionByName(issKeyed)
    val allBrNumbered = batchSeq(allBrEnts,
      Seq($"phase", $"k1", $"k2"), "br_n", numberOffset).localCheckpointClamped()

    def brOmid(n: Column): Column = concat(lit("br/" + prefix), n)

    val compToOmid = allBrNumbered.filter($"ent".isNotNull)
      .select($"ent", brOmid($"br_n").as("br_meta"))
    val volToOmid = allBrNumbered.filter($"vk".isNotNull)
      .select($"vk.venue_ent".as("venue_ent"), $"vk.vol_seq".as("vol_seq"), brOmid($"br_n").as("vvi_meta"))
    val issToOmid = allBrNumbered.filter($"ik".isNotNull)
      .select($"ik.venue_ent".as("venue_ent"), $"ik.vol_seq".as("vol_seq"),
        $"ik.iss_seq".as("iss_seq"), brOmid($"br_n").as("vvi_meta"))

    // ---- P3': RA mentions + resolution ----------------------------------
    val roleFrames = Seq(("author", 1, "authors"), ("publisher", 2, "publishers"),
      ("editor", 3, "editors")).map { case (role, slot, colName) =>
      rows.select($"row_idx", $"br_comp", $"venue_ent", $"type_c", $"author", $"venue",
          posexplode(col(colName)).as(Seq("pos", "agent")))
        .withColumn("role", lit(role)).withColumn("slot", lit(slot))
        .withColumn("attach",
          if (role == "editor")
            when($"author" =!= "" && $"venue" =!= "" &&
              $"type_c".isin(Validation.ContainerEditorTypes.toSeq: _*) && $"venue_ent".isNotNull,
              $"venue_ent").otherwise($"br_comp")
          else $"br_comp")
        .select($"row_idx", $"slot", $"pos", $"role", $"attach",
          $"agent._1".as("name"), $"agent._2".as("ids"), $"agent._3".as("ref"))
    }
    val mentions0 = roleFrames.reduce(_ unionByName _)
    val mentions = batchSeq(mentions0,
      Seq($"row_idx", $"slot", $"pos"), "seq", 0L).localCheckpointClamped()

    val raIdCc = ConnectedComponents.byShardKey(
      mentions.filter(size($"ids") > 0).select($"seq".as("entity"), explode($"ids").as("key")))
    val withIdComp = mentions
      .join(raIdCc.withColumnRenamed("entity", "seq").withColumnRenamed("component", "id_comp"),
        Seq("seq"), "left")
      .withColumn("comp0", coalesce($"id_comp", $"seq"))

    // name adoption (id-less author/editor mentions adopt the component of
    // the earliest same-name mention on the same attach entity, D5).
    val nameTargets = withIdComp
      .filter(nonBlank($"name") && $"role" =!= "publisher")
      .groupBy($"attach", $"role", $"name")
      .agg(min_by($"comp0", $"seq").as("name_comp"))
    val resolved = withIdComp
      .join(nameTargets, Seq("attach", "role", "name"), "left")
      .withColumn("ra_comp",
        when(size($"ids") === 0 && $"role" =!= "publisher" && $"name_comp".isNotNull,
          $"name_comp").otherwise($"comp0"))
      .localCheckpointClamped()

    // RA numbering by first appearance (min seq of component).
    val raEnts = resolved.groupBy($"ra_comp").agg(min($"seq").as("first_seq"))
    val raNumbered = batchSeq(raEnts, Seq($"first_seq"), "ra_n", numberOffset)
      .select($"ra_comp", concat(lit("ra/" + prefix), $"ra_n").as("ra_meta"))

    // RA display name: first mention's name, given-name-enriched (E15).
    val raNames = resolved.groupBy($"ra_comp").agg(
      min_by($"name", $"seq").as("first_name"),
      min(when(nonBlank($"name") && !$"name".endsWith(", ") && $"name".contains(","),
        struct($"seq", $"name"))).getField("name").as("full_name"))
      .withColumn("ra_name",
        when($"first_name".endsWith(", ") && $"full_name".isNotNull &&
          expr("substring_index(full_name, ',', 1)") === expr("substring_index(first_name, ',', 1)"),
          $"full_name").otherwise($"first_name"))
      .select($"ra_comp", $"ra_name")

    // AR entities: one per (attach, role, ra_comp), numbered by first seq.
    val arEnts = resolved.groupBy($"attach", $"role", $"ra_comp")
      .agg(min($"seq").as("first_seq"))
    val arNumbered = batchSeq(arEnts, Seq($"first_seq"), "ar_n", numberOffset)
      .withColumn("ar_meta", concat(lit("ar/" + prefix), $"ar_n"))
      .localCheckpointClamped()

    // ---- id entities -----------------------------------------------------
    val brIdOcc = rows.select(posexplode($"br_ids").as(Seq("p1", "literal")),
      lit(0).as("phase"), $"row_idx", lit(0).as("slot"), lit(0).as("p0"), lit("br").as("kind"))
    val venueIdOcc = rows.filter($"venue_ent".isNotNull)
      .select(posexplode($"venue_p._2").as(Seq("p1", "literal")),
        lit(1).as("phase"), $"row_idx", lit(0).as("slot"), lit(0).as("p0"), lit("br").as("kind"))
    val raIdOcc = resolved.select(posexplode($"ids").as(Seq("p1", "literal")),
      lit(1).as("phase"), $"row_idx", $"slot", $"pos".as("p0"), lit("ra").as("kind"))
    val idOcc = brIdOcc.unionByName(venueIdOcc).unionByName(raIdOcc)
    val idFirst = idOcc.groupBy($"literal").agg(
      min(struct($"phase", $"row_idx", $"slot", $"p0", $"p1")).as("fk"),
      max(when($"kind" === "br", 1).otherwise(0)).as("is_br"),
      max(when($"kind" === "ra", 1).otherwise(0)).as("is_ra"))
    val idNumbered = batchSeq(idFirst, Seq($"fk"), "id_n", numberOffset)
      .withColumn("id_meta", concat(lit("id/" + prefix), $"id_n"))
      .localCheckpointClamped()

    // ---- re entities -----------------------------------------------------
    val reEnts = rows.filter(nonBlank($"page_n"))
      .groupBy($"br_comp").agg(min($"row_idx").as("first_row"),
        min_by($"page_n", $"row_idx").as("page"))
    val reNumbered = batchSeq(reEnts, Seq($"first_row"), "re_n", numberOffset)
      .withColumn("re_meta", concat(lit("re/" + prefix), $"re_n"))

    // ---- P5': output assembly -------------------------------------------
    // ids per BR component / RA component, first-appearance order.
    def idsOf(ownerCol: String, occ: DataFrame): DataFrame =
      occ.groupBy(col(ownerCol).as("owner"))
        .agg(concat_ws(" ", transform(array_sort(collect_list(struct($"ok", $"literal"))),
          x => x.getField("literal")))
          .as("ids_str"))

    val brIdsByComp = rows.select($"br_comp", posexplode($"br_ids").as(Seq("p1", "literal")))
      .withColumn("ok", struct($"br_comp", $"p1"))
      .groupBy($"br_comp").agg(
        array_distinct(transform(array_sort(collect_list(struct(struct($"br_comp", $"p1").as("k"), $"literal"))),
          x => x.getField("literal"))).as("id_list"))

    val raIdsByComp = resolved.select($"ra_comp", $"seq", posexplode($"ids").as(Seq("p1", "literal")))
      .groupBy($"ra_comp").agg(
        array_distinct(transform(array_sort(collect_list(struct(struct($"seq", $"p1").as("k"), $"literal"))),
          x => x.getField("literal"))).as("id_list"))

    val venueIdsByEnt = rows.filter($"venue_ent".isNotNull)
      .select($"venue_ent", $"row_idx", posexplode($"venue_p._2").as(Seq("p1", "literal")))
      .groupBy($"venue_ent").agg(
        array_distinct(transform(array_sort(collect_list(struct(struct($"row_idx", $"p1").as("k"), $"literal"))),
          x => x.getField("literal"))).as("id_list"))

    // role cell strings per (attach, role)
    val raFull = resolved
      .join(raNumbered, "ra_comp").join(raNames, "ra_comp")
      .join(raIdsByComp, Seq("ra_comp"), "left")
    val arWithRa = arNumbered.join(
      raFull.select($"attach", $"role", $"ra_comp", $"ra_meta", $"ra_name", $"id_list").distinct(),
      Seq("attach", "role", "ra_comp"))
      .withColumn("cell", concat($"ra_name", lit(" ["),
        concat_ws(" ", concat(coalesce($"id_list", array()), array(concat(lit("omid:"), $"ra_meta")))),
        lit("]")))
    val roleCells = arWithRa.groupBy($"attach", $"role")
      .agg(concat_ws("; ", transform(array_sort(collect_list(struct($"ar_n", $"cell"))),
        x => x.getField("cell"))).as("role_cell"),
        concat_ws("; ", transform(array_sort(collect_list(struct($"ar_n", $"ar_meta", $"ra_meta"))),
          x => concat(x.getField("ar_meta"), lit(", "), x.getField("ra_meta")))).as("ar_pairs"))

    def roleCellFor(role: String) = roleCells.filter($"role" === role)
      .select($"attach", $"role_cell".as(role + "_cell"), $"ar_pairs".as(role + "_pairs"))

    // venue entity title: resolved-to-row venues use the row title; fresh
    // venue entities use the first mention's name.
    val venueNames = rows.filter($"venue_ent".isNotNull)
      .groupBy($"venue_ent").agg(min_by($"venue_p._1", $"row_idx").as("mention_name"))
    val rowTitles = rows.groupBy($"br_comp".as("venue_ent"))
      .agg(firstNonEmpty($"title", $"row_idx").as("row_title"))
    val venueTitles = venueNames.join(rowTitles, Seq("venue_ent"), "left")
      .withColumn("venue_title", coalesce(
        when($"venue_ent" < VenueOffset, $"row_title"), $"mention_name"))
      .select($"venue_ent", $"venue_title")
    // A venue that resolved to a ROW entity displays the entity's FULL id
    // set (row ids ∪ venue-mention ids) — the reference's enrich() writes
    // the venue cell from the resolved entity's id set (curator.py:990-
    // 1008), not from the mention that happened to name it.
    val venueMeta = venueTitles
      .join(compToOmid.withColumnRenamed("ent", "venue_ent")
        .withColumnRenamed("br_meta", "venue_meta"), Seq("venue_ent"))
      .join(venueIdsByEnt, Seq("venue_ent"), "left")
      .join(brIdsByComp.select($"br_comp".as("venue_ent"), $"id_list".as("row_id_list")),
        Seq("venue_ent"), "left")
      .withColumn("all_ids", array_distinct(concat(
        coalesce($"row_id_list", array()), coalesce($"id_list", array()))))
      .withColumn("venue_cell", concat($"venue_title", lit(" ["),
        concat_ws(" ", concat($"all_ids", array(concat(lit("omid:"), $"venue_meta")))),
        lit("]")))
      .select($"venue_ent", $"venue_meta", $"venue_cell")

    // J6 precedence: for fresh in-batch duplicates the reference skips
    // field propagation entirely (merge_duplicate_entities only processes
    // rows already bound to a real meta, curator.py:1374) and the final
    // `{id: row}` dedupe (curator.py:333) keeps the LAST occurrence
    // verbatim — so pub_date/type/volume/issue take the last row's cleaned
    // value, empty included. Title converges through the entity-store
    // (first non-empty in row order, curator.py:1299-1300) and the page
    // through remeta (first non-empty, D8). Update batches resolved
    // against a store DO propagate — donor rows only, in row order — which
    // StoreCurator reconstructs from the per-row `rowProp` frame below.
    val compAgg = rows.groupBy($"br_comp").agg(
      min($"row_idx").as("first_row"),
      firstNonEmpty($"title", $"row_idx").as("o_title"),
      max(struct($"row_idx", $"date")).getField("date").as("o_date"),
      max(struct($"row_idx", $"type2")).getField("type2").as("o_type"),
      max(struct($"row_idx", $"vol3")).getField("vol3").as("o_volume"),
      max(struct($"row_idx", $"iss3")).getField("iss3").as("o_issue"),
      min(when($"venue_ent".isNotNull, struct($"row_idx", $"venue_ent"))).getField("venue_ent").as("o_venue_ent"),
      array_distinct(collect_list($"explicit_omid")).as("explicit_omids"))

    val outRows = compAgg
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .join(brIdsByComp, Seq("br_comp"), "left")
      .join(reNumbered.select($"br_comp", $"page".as("o_page"), $"re_meta"), Seq("br_comp"), "left")
      .join(venueMeta.withColumnRenamed("venue_ent", "o_venue_ent"), Seq("o_venue_ent"), "left")
      .join(roleCellFor("author").withColumnRenamed("attach", "br_comp"), Seq("br_comp"), "left")
      .join(roleCellFor("publisher").withColumnRenamed("attach", "br_comp"), Seq("br_comp"), "left")
      .join({
        // the display mapping must use the SAME attach rule as the role
        // frames (D7): only container-editor types with author+venue hang
        // their editors on the venue — a plain book/journal article keeps
        // them on the row even when a venue exists. Deterministic pick
        // when a component's rows disagree on the attach target: prefer a
        // row whose attach HAS an editor sequence, then the LAST such row
        // (the reference's final `{id: row}` dedupe keeps the last row).
        val edAttachRows = rows.select($"br_comp", $"row_idx",
          when($"author" =!= "" && $"venue" =!= "" &&
            $"type_c".isin(Validation.ContainerEditorTypes.toSeq: _*) && $"venue_ent".isNotNull,
            $"venue_ent").otherwise($"br_comp").as("ed_attach"))
        edAttachRows
          .join(roleCellFor("editor").withColumnRenamed("attach", "ed_attach"), Seq("ed_attach"), "left")
          .groupBy($"br_comp").agg(
            max_by(struct($"editor_cell", $"editor_pairs", $"ed_attach"),
              struct($"editor_cell".isNotNull, $"row_idx")).as("ed"))
          .select($"br_comp", $"ed.editor_cell".as("editor_cell"),
            $"ed.editor_pairs".as("editor_pairs"), $"ed.ed_attach".as("ed_attach_ent"))
      }, Seq("br_comp"), "left")
      .join(compToOmid.select($"ent".as("ed_attach_ent"), $"br_meta".as("ed_attach_meta")),
        Seq("ed_attach_ent"), "left")
      .withColumn("o_id", concat_ws(" ",
        concat(coalesce($"id_list", array()), array(concat(lit("omid:"), $"br_meta")))))
      .select(
        $"br_comp", $"first_row", $"br_meta", $"re_meta", $"explicit_omids",
        coalesce($"ed_attach_meta", $"br_meta").as("ed_attach_meta"),
        $"venue_meta",
        $"o_id".as("id"), coalesce($"o_title", lit("")).as("title"),
        coalesce($"author_cell", lit("")).as("author"),
        coalesce($"o_date", lit("")).as("pub_date"),
        coalesce($"venue_cell", lit("")).as("venue"),
        coalesce($"o_volume", lit("")).as("volume"),
        coalesce($"o_issue", lit("")).as("issue"),
        coalesce($"o_page", lit("")).as("page"),
        coalesce($"o_type", lit("")).as("type"),
        coalesce($"publisher_cell", lit("")).as("publisher"),
        coalesce($"editor_cell", lit("")).as("editor"),
        $"author_pairs", $"publisher_pairs", $"editor_pairs")
      .orderBy($"first_row")

    // index tables (curator.py:1045-1101 formats)
    val indexIdBr = idNumbered.filter($"is_br" === 1).select($"literal".as("id"), $"id_meta".as("meta")).orderBy($"meta")
    val indexIdRa = idNumbered.filter($"is_ra" === 1).select($"literal".as("id"), $"id_meta".as("meta")).orderBy($"meta")
    val arIndex = {
      val attachMeta = compToOmid.select($"ent".as("attach"), $"br_meta".as("meta"))
      roleCells.join(attachMeta, Seq("attach"))
        .groupBy($"meta")
        .agg(
          max(when($"role" === "author", $"ar_pairs")).as("author"),
          max(when($"role" === "editor", $"ar_pairs")).as("editor"),
          max(when($"role" === "publisher", $"ar_pairs")).as("publisher"))
        .select($"meta", coalesce($"author", lit("")).as("author"),
          coalesce($"editor", lit("")).as("editor"),
          coalesce($"publisher", lit("")).as("publisher"))
        .orderBy($"meta")
    }
    val reIndex = reNumbered.join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .select($"br_meta".as("br"), $"re_meta".as("re")).orderBy($"br")
    val vviIndex = {
      val volsAll = volEntities
        .join(volToOmid, Seq("venue_ent", "vol_seq"), "left")
        .join(compToOmid.withColumnRenamed("ent", "row_entity"), Seq("row_entity"), "left")
        .select($"venue_ent", $"vol_seq", lit(null).cast("string").as("iss_seq"),
          coalesce($"vvi_meta", $"br_meta").as("meta"))
      val issAll = issEntities
        .join(issToOmid, Seq("venue_ent", "vol_seq", "iss_seq"), "left")
        .join(compToOmid.withColumnRenamed("ent", "row_entity"), Seq("row_entity"), "left")
        .select($"venue_ent", $"vol_seq", $"iss_seq",
          coalesce($"vvi_meta", $"br_meta").as("meta"))
      volsAll.unionByName(issAll)
        .join(compToOmid.select($"ent".as("venue_ent"), $"br_meta".as("venue_meta")), Seq("venue_ent"))
        .select($"venue_meta", $"vol_seq", $"iss_seq", $"meta")
        .orderBy($"venue_meta", $"vol_seq", $"iss_seq")
    }

    // ---- entity-level frames for RDF emission (R1 inputs) ---------------
    val volMetaDf = volEntities
      .join(volToOmid, Seq("venue_ent", "vol_seq"), "left")
      .join(compToOmid.withColumnRenamed("ent", "row_entity"), Seq("row_entity"), "left")
      .select($"venue_ent", $"vol_seq", coalesce($"vvi_meta", $"br_meta").as("vol_meta"),
        $"vvi_meta".isNotNull.as("vol_is_fresh"))
    val issMetaDf = issEntities
      .join(issToOmid, Seq("venue_ent", "vol_seq", "iss_seq"), "left")
      .join(compToOmid.withColumnRenamed("ent", "row_entity"), Seq("row_entity"), "left")
      .select($"venue_ent", $"vol_seq", $"iss_seq", coalesce($"vvi_meta", $"br_meta").as("iss_meta"),
        $"vvi_meta".isNotNull.as("iss_is_fresh"))
    val venueOmid = compToOmid.select($"ent".as("venue_ent"), $"br_meta".as("venue_omid"))

    // partOf chain (creator.py:372-391): row -> issue | volume | venue;
    // issue -> volume | venue; volume -> venue.
    val volForRows = volMetaDf
      .select($"venue_ent".as("vve"), $"vol_seq".as("vvs"), $"vol_meta")
    val issForRows = issMetaDf
      .select($"venue_ent".as("ive"), $"vol_seq".as("ivs"), $"iss_seq".as("iis"), $"iss_meta")
    val rowParents = rows
      .join(venueOmid, Seq("venue_ent"), "left")
      .join(volForRows, $"venue_ent" === $"vve" && $"vol3" === $"vvs", "left")
      .join(issForRows,
        $"venue_ent" === $"ive" && coalesce($"vol3", lit("")) === $"ivs" && $"iss3" === $"iis", "left")
      .withColumn("parent_meta",
        when($"type2" === "journal volume", $"venue_omid")
          .when($"type2" === "journal issue", coalesce($"vol_meta", $"venue_omid"))
          .otherwise(coalesce(when($"type2" === "journal article", $"iss_meta"),
            when($"type2" === "journal article", $"vol_meta"), $"venue_omid")))
      .filter($"parent_meta".isNotNull)
      .groupBy($"br_comp").agg(min_by($"parent_meta", $"row_idx").as("parent_meta"))
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .select($"br_meta".as("child_meta"), $"parent_meta")
      .filter($"child_meta" =!= $"parent_meta")
    val volParents = volMetaDf.filter($"vol_is_fresh")
      .join(venueOmid, Seq("venue_ent"))
      .select($"vol_meta".as("child_meta"), $"venue_omid".as("parent_meta"))
    val issParents = issMetaDf.filter($"iss_is_fresh")
      .join(volMetaDf.select($"venue_ent", $"vol_seq", $"vol_meta"), Seq("venue_ent", "vol_seq"), "left")
      .join(venueOmid, Seq("venue_ent"))
      .select($"iss_meta".as("child_meta"), coalesce($"vol_meta", $"venue_omid").as("parent_meta"))
    val partOf = rowParents.unionByName(volParents).unionByName(issParents).distinct()

    // entities: row BRs, fresh venues (E19 type inference — the full
    // get_venue_type branch set, evaluated per row and resolved to the
    // LAST row with a non-empty verdict: the reference re-runs
    // create_{venue_type}() on the shared venue graph for EVERY row
    // (creator.py:322-325) and oc_ocdm replaces the fabio class, so a
    // later row's verdict overwrites an earlier one while an empty
    // verdict leaves the previous class alone — pinned by the testcase_01
    // RDF golden, where a `report` row then a `journal article` row must
    // leave the venue a fabio:Journal), fresh volumes/issues.
    val rowEntities = compAgg
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .select($"br_meta".as("meta"), lit("br").as("kind"),
        coalesce($"o_type", lit("")).as("type_label"),
        coalesce($"o_title", lit("")).as("title"),
        coalesce($"o_date", lit("")).as("date"),
        when($"o_type" === "journal volume", $"o_volume")
          .when($"o_type" === "journal issue", $"o_issue").as("seq_id"))
    val venueRowTypes = rows.filter($"venue_ent".isNotNull && $"venue_ent" >= VenueOffset)
      .select($"venue_ent", $"row_idx",
        graft.functions.CleaningColumns.venueTypeCol($"type2", $"venue_p._2").as("vtype"))
      .groupBy($"venue_ent").agg(
        coalesce(max_by($"vtype", when(length($"vtype") > 0, $"row_idx")), lit(""))
          .as("type_label"))
    val venueEntities = venueMeta
      .filter($"venue_ent" >= VenueOffset)
      .join(venueRowTypes, Seq("venue_ent"), "left")
      .withColumn("type_label", coalesce($"type_label", lit("")))
      .join(venueTitles, Seq("venue_ent"))
      .select($"venue_meta".as("meta"), lit("br").as("kind"), $"type_label",
        coalesce($"venue_title", lit("")).as("title"), lit("").as("date"),
        lit(null).cast("string").as("seq_id"))
    val volEntitiesOut = volMetaDf.filter($"vol_is_fresh")
      .select($"vol_meta".as("meta"), lit("br").as("kind"),
        lit("journal volume").as("type_label"), lit("").as("title"),
        lit("").as("date"), $"vol_seq".as("seq_id"))
    val issEntitiesOut = issMetaDf.filter($"iss_is_fresh")
      .select($"iss_meta".as("meta"), lit("br").as("kind"),
        lit("journal issue").as("type_label"), lit("").as("title"),
        lit("").as("date"), $"iss_seq".as("seq_id"))
    val entities = rowEntities.unionByName(venueEntities)
      .unionByName(volEntitiesOut).unionByName(issEntitiesOut)

    // entityIds: owner meta -> id entity + scheme/literal value
    val idMetaByLiteral = idNumbered.select($"literal", $"id_meta")
    val brOwnerIds = rows.select($"br_comp", explode($"br_ids").as("literal"))
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .select($"br_meta".as("owner_meta"), $"literal")
    val venueOwnerIds = rows.filter($"venue_ent".isNotNull)
      .select($"venue_ent", explode($"venue_p._2").as("literal"))
      .join(venueOmid, Seq("venue_ent"))
      .select($"venue_omid".as("owner_meta"), $"literal")
    val raOwnerIds = resolved.select($"ra_comp", explode($"ids").as("literal"))
      .join(raNumbered, Seq("ra_comp"))
      .select($"ra_meta".as("owner_meta"), $"literal")
    // F7 — temp: ids deduplicate (they rode through br_ids/agent ids and
    // the CC above, and they consume id counters like the reference's
    // __update_id_count) but are never persisted: the RDF-emission feed
    // drops them here, mirroring creator.py:629-631's id_creator skip.
    // They stay in the curated CSV id cells and id indices (enrich()
    // writes entity_store.get_ids verbatim, curator.py:990).
    val entityIds = brOwnerIds.unionByName(venueOwnerIds).unionByName(raOwnerIds)
      .distinct()
      .filter(!$"literal".startsWith("temp:"))
      .join(idMetaByLiteral, Seq("literal"))
      .select($"owner_meta", $"id_meta",
        substring_index($"literal", ":", 1).as("scheme"),
        expr("substring(literal, instr(literal, ':') + 1)").as("value"))

    // roles with positions (hasNext order = ar_n order within attach+role)
    val roleWindow = org.apache.spark.sql.expressions.Window
      .partitionBy($"attach", $"role").orderBy($"ar_n")
    val roles = arWithRa
      .withColumn("pos", row_number().over(roleWindow))
      .join(compToOmid.withColumnRenamed("ent", "attach"), Seq("attach"))
      .select($"br_meta", $"role", $"pos".cast("long").as("pos"), $"ar_meta", $"ra_meta")

    val raNamesOut = raNumbered.join(raNames, Seq("ra_comp"))
      .select($"ra_meta", $"ra_name".as("name"))

    // pages: start/end split, single-sided duplicated (E22)
    val pages = reNumbered
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .withColumn("start_page", substring_index($"page", "-", 1))
      .withColumn("end_page",
        when($"page".contains("-"), substring_index($"page", "-", -1)).otherwise($"page"))
      .select($"br_meta", $"re_meta", $"start_page", $"end_page")

    // explicit omid references of venue/agent cells (D2(1) store keys);
    // fresh-world curation itself never resolves them.
    val explicitRefs = {
      val raRefs = resolved.filter($"ref".isNotNull)
        .groupBy($"ra_comp").agg(min_by($"ref", $"seq").as("ref"))
        .join(raNumbered, Seq("ra_comp"))
        .select($"ra_meta".as("owner_meta"), $"ref")
      val venueRefs = rows.filter($"venue_ent".isNotNull && $"venue_p._3".isNotNull)
        .groupBy($"venue_ent").agg(min_by($"venue_p._3", $"row_idx").as("ref"))
        .join(compToOmid.withColumnRenamed("ent", "venue_ent"), Seq("venue_ent"))
        .select($"br_meta".as("owner_meta"), $"ref")
      raRefs.unionByName(venueRefs)
    }

    val rowProp = rows
      .join(compToOmid.withColumnRenamed("ent", "br_comp"), Seq("br_comp"))
      .select($"br_meta", $"row_idx", $"date", $"type2", $"vol3", $"iss3",
        $"br_ids", $"explicit_omid")

    CuratedBatch(outRows, indexIdBr, indexIdRa, arIndex, reIndex, vviIndex,
      entities, entityIds, roles, raNamesOut, pages, partOf, explicitRefs,
      rowProp)
  }
}
