package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.rdf.StoreViews
import graft.curation.Ck._

/** Store-backed curation — the reference's "update" scenario (SURVEY §6,
  * D2 store branches / J5 equalizer / D5 AR-sequence union / D8 / D9): a
  * batch is resolved against an existing triples snapshot instead of an
  * empty world.
  *
  * Strategy (set-oriented equivalent of the row-by-row id_worker +
  * clean_ra/clean_vvi store paths, curator.py:575-742/421-570):
  *  1. run the fresh pipeline in a TEMPORARY number space (offset 10^9 —
  *     disjoint from any real store numbering);
  *  2. ADOPTION joins, in the reference's precedence order:
  *     explicit row omid (D2(1), with the merged-entity provenance hop
  *     D2(2)) > explicit venue/agent-cell omid > shared external
  *     identifier. Multi-store-id matches take the FIRST store entity and
  *     union the ids (id_worker keeps sparql_match[0] and merges all
  *     matches' ids — curator.py:1270-1297; its conflict branch is
  *     commented out there);
  *  3. AR-SEQUENCE alignment (clean_ra, curator.py:634-742): for every
  *     adopted BR the store's role sequence is the prefix; batch agents
  *     match a sequence element by shared id, else by exact name, and
  *     matched elements reuse the store (ar, ra) — unmatched agents mint
  *     new ARs appended after the store prefix;
  *  4. store VVI adoption (clean_vvi, curator.py:502-528): batch
  *     volume/issue entities under an adopted venue adopt the store's
  *     volume/issue with the same sequence value; the venue's full store
  *     subtree is materialized into the vvi index
  *     (retrieve_venue_from_local_graph);
  *  5. compact renumbering of the remaining new entities per kind from
  *     the store's counters — distributed (no driver-side entity maps);
  *  6. assembly: every cell is REBUILT from the final frames (id cells
  *     union the adopted entity's store ids — enrich(), curator.py:990;
  *     agent cells render the final sequences with store-name precedence
  *     and given-name fill — name_check, curator.py:1016-1024), and the
  *     equalizer applies store precedence for date/type/volume/issue/
  *     page/venue (curator.py:1402-1460).
  */
object StoreCurator {

  private val TempBase = 1000000000L

  final case class UpdateResult(batch: Curator.CuratedBatch, preexisting: DataFrame)

  /** @param counterOffsets explicit per-kind numbering offsets for NEW
    *   entities. The reference numbers new entities from its counter
    *   FILES, not from the store's maximum (a fresh info_dir starts at 1
    *   even against a populated store — curator_test.py get_counter_
    *   handler); None = continue from the store maxima.
    * @param normalizeTitles forwarded to [[Curator.curateFresh]]. */
  def curateWithStore(input: DataFrame, store: StoreViews.Store,
      prefix: String = "060",
      silencedRoles: Set[String] = Set.empty,
      prov: Option[DataFrame] = None,
      counterOffsets: Option[Map[String, Long]] = None,
      normalizeTitles: Boolean = false): UpdateResult = {
    val spark = input.sparkSession
    import spark.implicits._

    // Phase 1: fresh curation in the temp number space. Frames are
    // consumed several times below — each is checkpointed on first read.
    val fresh = Curator.curateFresh(input, prefix, numberOffset = TempBase,
      normalizeTitles = normalizeTitles).checkpointed

    val storeMetas = store.entities.select($"meta").distinct()

    // ---- Phase 2a: explicit row omids (D2(1)/(2)) -----------------------
    // An explicit omid present in the store adopts it outright (highest
    // priority). An omid UNKNOWN to the store is looked up in the
    // provenance merge history (finder.py:201-250): a dead omid absorbed
    // by a merge resolves to its surviving successor. If that also fails
    // the token is discarded (curator.py:1196-1205) and the component
    // falls through to id-based resolution or is minted new.
    val explicitPerComp = fresh.rows
      .select($"br_meta".as("from_meta"), explode($"explicit_omids").as("ex"))
      .filter($"ex".isNotNull)
      .groupBy($"from_meta")
      .agg(countDistinct($"ex").as("n_ex"), min($"ex").as("ex_omid"))
      .filter($"n_ex" === 1)
    val storeBrs = store.entities.filter($"meta".startsWith("br/"))
      .select($"meta".as("ex_omid")).distinct()
    val knownExplicit = explicitPerComp
      .join(storeBrs, Seq("ex_omid"), "left_semi")
      .select($"from_meta", $"ex_omid".as("to_meta"))
    // (merged -> surviving) pairs from SCD2 merge snapshots (G8 shape);
    // follow successor chains to a fixpoint (bounded by merge-history
    // depth, not data size). Shared by component adoption and the J6
    // per-row donor gate below.
    val mergedHop: DataFrame = prov match {
      case None => storeBrs.limit(0)
        .select($"ex_omid".as("merged"), $"ex_omid".as("surviving"))
      case Some(p) =>
        var hop = graft.operators.Tools.mergedEntityPairs(p)
          .select($"merged", $"surviving").localCheckpointClamped()
        var iter = 0
        var changed = true
        while (changed && iter < 8) {
          val next = hop.alias("a")
            .join(hop.alias("b"), col("a.surviving") === col("b.merged"), "left")
            .select(col("a.merged"),
              coalesce(col("b.surviving"), col("a.surviving")).as("surviving"))
            .groupBy($"merged").agg(min($"surviving").as("surviving"))
            .localCheckpointClamped()
          changed = next.alias("n").join(hop.alias("h"), Seq("merged"))
            .filter(col("n.surviving") =!= col("h.surviving")).head(1).nonEmpty
          hop = next
          iter += 1
        }
        hop
    }
    val mergedHopExplicit = explicitPerComp
      .join(storeBrs, Seq("ex_omid"), "left_anti")
      .join(mergedHop.withColumnRenamed("merged", "ex_omid"), Seq("ex_omid"))
      .join(storeBrs.select($"ex_omid".as("surviving")), Seq("surviving"), "left_semi")
      .select($"from_meta", $"surviving".as("to_meta"))
    val brAdoptExplicit = knownExplicit.unionByName(mergedHopExplicit)

    // ---- 2b: explicit omids in venue/agent cells ------------------------
    val refAdopt = fresh.explicitRefs
      .join(storeMetas.withColumnRenamed("meta", "ref"), Seq("ref"), "left_semi")
      .select($"owner_meta".as("from_meta"), $"ref".as("to_meta"))

    // ---- 2c: shared-external-identifier adoption ------------------------
    // Multi-match takes the FIRST store entity in id-list order —
    // finder_sparql probes the ids in cell order and id_worker keeps
    // sparql_match[0]; its conflict branch is commented out
    // (curator.py:799-817, 1270-1297). The batch id-entity numbers encode
    // first-appearance order, so min(id number) reproduces the pick.
    val idTempN = (c: Column) =>
      expr(s"CAST(substring(substring_index(${c.toString()}, '/', -1), ${prefix.length + 1}) AS BIGINT)")
    val batchIdLiterals = fresh.entityIds
      .select($"owner_meta", concat($"scheme", lit(":"), $"value").as("literal"),
        idTempN($"id_meta").as("idn"))
    def adoptions(batchIds: DataFrame, storeKindPrefix: String): DataFrame = {
      val storeIds = store.entityIds
        .filter($"owner_meta".startsWith(storeKindPrefix))
        .select($"literal", $"owner_meta".as("store_meta"))
      batchIds
        .join(storeIds, "literal")
        .groupBy($"owner_meta")
        .agg(min(struct($"idn", $"store_meta")).getField("store_meta").as("to_meta"))
        .select($"owner_meta".as("from_meta"), $"to_meta")
    }
    val brAdoptIds = adoptions(batchIdLiterals.filter($"owner_meta".startsWith("br/")), "br/")
    val raAdoptIds = adoptions(batchIdLiterals.filter($"owner_meta".startsWith("ra/")), "ra/")
    // id entities adopt by literal equality directly
    val idAdopt = fresh.entityIds.select($"id_meta",
        concat($"scheme", lit(":"), $"value").as("literal")).distinct()
      .join(store.entityIds.select($"literal", $"id_meta".as("store_id")).distinct(), "literal")
      .groupBy($"id_meta").agg(min($"store_id").as("to_meta"))
      .select($"id_meta".as("from_meta"), $"to_meta")

    def prioritized(frames: Seq[(DataFrame, Int)]): DataFrame =
      frames.map { case (df, p) =>
        df.select($"from_meta", $"to_meta", lit(p).as("prio"))
      }.reduce(_ unionByName _)
        .groupBy($"from_meta")
        .agg(min(struct($"prio", $"to_meta")).getField("to_meta").as("to_meta"))

    val brMap = prioritized(Seq(
      brAdoptExplicit -> 1,
      refAdopt.filter($"from_meta".startsWith("br/")) -> 2,
      brAdoptIds -> 3)).localCheckpointClamped()

    // ---- J6 donor gate (merge_duplicate_entities, curator.py:1361-1389) -
    // Within an adopted component only rows that THEMSELVES resolve to
    // the adopted store entity donate fields: the reference walks rows in
    // order and lets a row propagate its values onto related rows only
    // when its row id is a real meta — wannabe rows receive, never
    // donate. Net effect per column: the first non-empty value among
    // donor rows in row order wins (each later donor has already been
    // overwritten by the earlier ones before its turn); if no donor
    // carries the column, the final `{id: row}` dedupe keeps the last
    // row's own value. Donor test: the row's explicit omid (after the
    // merge-history hop) or one of its OWN id tokens belongs to the
    // adopted meta.
    val rpAdopted = fresh.rowProp
      .join(brMap.withColumnRenamed("from_meta", "br_meta"), Seq("br_meta"))
      .localCheckpointClamped()
    val donorByExplicit = rpAdopted
      .filter($"explicit_omid".isNotNull)
      .join(mergedHop.withColumnRenamed("merged", "explicit_omid"),
        Seq("explicit_omid"), "left")
      .filter(coalesce($"surviving", $"explicit_omid") === $"to_meta")
      .select($"br_meta", $"row_idx")
    val storeBrIdOwners = store.entityIds
      .filter($"owner_meta".startsWith("br/"))
      .select($"literal", $"owner_meta".as("to_meta"))
    val donorById = rpAdopted
      .select($"br_meta", $"row_idx", $"to_meta", explode($"br_ids").as("literal"))
      .join(storeBrIdOwners, Seq("literal", "to_meta"), "left_semi")
      .select($"br_meta", $"row_idx")
    val donorAgg = rpAdopted
      .join(donorByExplicit.unionByName(donorById).distinct(),
        Seq("br_meta", "row_idx"), "left_semi")
      .groupBy($"br_meta").agg(
        firstNonEmpty($"date", $"row_idx").as("dnr_date"),
        firstNonEmpty($"type2", $"row_idx").as("dnr_type"),
        firstNonEmpty($"vol3", $"row_idx").as("dnr_volume"),
        firstNonEmpty($"iss3", $"row_idx").as("dnr_issue"))

    // ---- 2d: AR-sequence alignment on adopted BRs (clean_ra) ------------
    val adoptedStoreBrs = brMap.select($"to_meta".as("br_meta")).distinct()
    val storeSeqAll = store.roles
      .join(adoptedStoreBrs, Seq("br_meta"), "left_semi")
      .localCheckpointClamped()
    // D6 silencer: a silenced role with a store sequence ignores the
    // batch's agents entirely (curator.py:661-662) — no matching, no id
    // union, batch ARs dropped.
    // (no checkpoint for the empty-set fast path — limit(0) is free to
    // recompute and the checkpoint job is pure overhead per run)
    val silencedKeys =
      if (silencedRoles.isEmpty)
        storeSeqAll.limit(0).select($"br_meta", $"role")
      else storeSeqAll.filter($"role".isin(silencedRoles.toSeq: _*))
        .select($"br_meta", $"role").distinct().localCheckpointClamped()
    val batchSeqRoles = fresh.roles
      .join(brMap.withColumnRenamed("from_meta", "br_meta"), Seq("br_meta"))
      .join(silencedKeys.withColumnRenamed("br_meta", "to_meta"),
        Seq("to_meta", "role"), "left_anti")
      .select($"to_meta".as("store_br"), $"role",
        $"ar_meta".as("temp_ar"), $"ra_meta".as("temp_ra"))
    val storeSeq = storeSeqAll.select($"br_meta".as("store_br"), $"role",
      $"pos".as("st_pos"), $"ar_meta".as("st_ar"), $"ra_meta".as("st_ra"))
    val batchRaIds = batchIdLiterals.filter($"owner_meta".startsWith("ra/"))
      .select($"owner_meta".as("temp_ra"), $"literal").distinct()
    val storeRaIds = store.entityIds.filter($"owner_meta".startsWith("ra/"))
      .select($"owner_meta".as("st_ra"), $"literal").distinct()
    val seqMatch = alignArSequences(batchSeqRoles, storeSeq,
      batchRaIds, storeRaIds, fresh.raNames, store.raNames)
      .localCheckpointClamped()
    val arAdopt = seqMatch.select($"temp_ar".as("from_meta"), $"st_ar".as("to_meta"))
      .groupBy($"from_meta").agg(min($"to_meta").as("to_meta"))

    val raMap = prioritized(Seq(
      seqMatch.select($"temp_ra".as("from_meta"), $"st_ra".as("to_meta")) -> 1,
      refAdopt.filter($"from_meta".startsWith("ra/")) -> 2,
      raAdoptIds -> 3)).localCheckpointClamped()

    // ---- 2e: re adoption (D8 — store page wins) -------------------------
    val reAdopt = fresh.pages.select($"br_meta", $"re_meta".as("from_meta"))
      .join(brMap.withColumnRenamed("from_meta", "br_meta")
        .withColumnRenamed("to_meta", "store_br"), Seq("br_meta"))
      .join(store.pages.select($"br_meta".as("store_br"), $"re_meta".as("to_meta")),
        Seq("store_br"))
      .select($"from_meta", $"to_meta")

    // ---- 2f: store VVI subtrees + volume/issue adoption (D4-vs-store) ---
    // Subtree shape mirrors fresh vviIndex conventions: volumes carry
    // iss_seq NULL, top-level issues carry vol_seq "".
    val stKind = store.entities.select($"meta", $"type_label", $"seq_id")
    val stVolsRaw = store.partOf
      .join(stKind.filter($"type_label" === "journal volume")
        .select($"meta".as("child_meta"), $"seq_id".as("vol_seq")), Seq("child_meta"))
      .select($"parent_meta".as("venue_meta"), $"vol_seq", $"child_meta".as("vvi_meta"))
    val stIssRaw = store.partOf
      .join(stKind.filter($"type_label" === "journal issue")
        .select($"meta".as("child_meta"), $"seq_id".as("iss_seq")), Seq("child_meta"))
      .select($"parent_meta", $"iss_seq", $"child_meta".as("vvi_meta"))
    val stIssUnder = stIssRaw
      .join(stVolsRaw.select($"vvi_meta".as("parent_meta"), $"venue_meta",
        $"vol_seq"), Seq("parent_meta"))
      .select($"venue_meta", $"vol_seq", $"iss_seq", $"vvi_meta")
    val stIssTop = stIssRaw
      .join(stVolsRaw.select($"vvi_meta".as("parent_meta")), Seq("parent_meta"), "left_anti")
      .select($"parent_meta".as("venue_meta"), lit("").as("vol_seq"), $"iss_seq", $"vvi_meta")
    val storeSubtree = stVolsRaw
      .select($"venue_meta", $"vol_seq", lit(null).cast("string").as("iss_seq"), $"vvi_meta")
      .unionByName(stIssUnder).unionByName(stIssTop)
      .localCheckpointClamped()

    val vviVenueFinal = fresh.vviIndex
      .join(brMap.withColumnRenamed("from_meta", "venue_meta"), Seq("venue_meta"), "left")
      .withColumn("venue_final", coalesce($"to_meta", $"venue_meta")).drop("to_meta")
    val vviAdopt = vviVenueFinal.alias("b")
      .join(storeSubtree.alias("s"),
        col("b.venue_final") === col("s.venue_meta") &&
          col("b.vol_seq") <=> col("s.vol_seq") &&
          col("b.iss_seq") <=> col("s.iss_seq"))
      .filter(col("b.meta") =!= col("s.vvi_meta"))
      .select(col("b.meta").as("from_meta"), col("s.vvi_meta").as("to_meta"))
      .join(brMap.select($"from_meta"), Seq("from_meta"), "left_anti")

    val adoptAll = Seq(brMap, raMap, arAdopt, idAdopt, reAdopt, vviAdopt)
      .map(_.select($"from_meta", $"to_meta"))
      .reduce(_ unionByName _)
      .groupBy($"from_meta").agg(min($"to_meta").as("to_meta"))
      .localCheckpointClamped()

    // ---- Phase 3: compact distributed renumbering -----------------------
    // No driver-side entity maps: non-adopted temp entities get dense
    // numbers per kind (first-appearance order = temp number order) via
    // size-dispatched global sequences, and every frame is rewritten by
    // JOINING on the mapping, not by broadcast UDFs.
    val offsets: Map[String, Long] = counterOffsets.getOrElse(store.counters.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap).withDefaultValue(0L)
    val tempN = (c: Column) =>
      expr(s"CAST(substring(substring_index(${c.toString()}, '/', -1), ${prefix.length + 1}) AS BIGINT)")
    val fresh2 = graft.rdf.Provenance.allEntities(fresh).select($"meta")
      .join(adoptAll.select($"from_meta".as("meta")), Seq("meta"), "left_anti")
      .withColumn("kind", substring_index($"meta", "/", 1))
      .withColumn("temp_n", tempN($"meta"))
      .localCheckpointClamped()
    // ONE size probe for the whole dispatch (the per-kind loop used to
    // collect the kind list + run a count and a sequence job per kind —
    // ~12 driver round trips per update where one suffices). Small
    // batches take a single LAZY kind-partitioned window (per-kind dense
    // numbering in one narrow shuffle that folds into the downstream
    // mapping join); corpus-scale batches keep the per-kind distributed
    // zipWithIndex so no kind funnels through one task.
    val offMap = typedLit(Map(offsets.toSeq: _*))
    val renumberMap =
      if (fresh2.count() <= Sequencing.LazyWindowMaxRows) {
        val w = Window.partitionBy($"kind").orderBy($"temp_n")
        fresh2.withColumn("rk",
            row_number().over(w).cast("long") +
              coalesce(element_at(offMap, $"kind"), lit(0L)))
          .select($"meta".as("from_meta"),
            concat($"kind", lit("/" + prefix), $"rk").as("to_meta"))
      } else {
        val kinds = fresh2.select($"kind").distinct().as[String].collect().toSeq.sorted
        kinds.map { k =>
          Sequencing.globalSequenceDistributed(
            fresh2.filter($"kind" === k), Seq($"temp_n"), "rk", offsets(k))
            .select($"meta".as("from_meta"),
              concat($"kind", lit("/" + prefix), $"rk").as("to_meta"))
        }.reduce(_ unionByName _)
      }
    // total rewrite mapping; identity for any meta not present
    val m = adoptAll.unionByName(renumberMap).localCheckpointClamped()

    def remapCol(df: DataFrame, c: String): DataFrame = {
      val tmp = c + "__to"
      df.join(m.select($"from_meta".as(c), $"to_meta".as(tmp)), Seq(c), "left")
        .withColumn(c, coalesce(col(tmp), col(c))).drop(tmp)
    }
    def remapCols(df: DataFrame, cs: Seq[String]): DataFrame = cs.foldLeft(df)(remapCol)

    // ---- Phase 4: final role sequences (store prefix ++ new) ------------
    val storeIdsByOwner = store.entityIds.groupBy($"owner_meta")
      .agg(sort_array(collect_set($"literal")).as("st_ids"))

    val finalN = (c: Column) => tempN(c) // post-renumber metas parse the same way
    val batchRolesFinal = remapCols(
      fresh.roles.join(arAdopt.select($"from_meta".as("ar_meta")), Seq("ar_meta"), "left_anti"),
      Seq("br_meta", "ar_meta", "ra_meta"))
      .join(silencedKeys, Seq("br_meta", "role"), "left_anti")
      .select($"br_meta", $"role", $"ar_meta", $"ra_meta",
        lit(1).as("src"), finalN($"ar_meta").as("ord"))
    val rolesW = Window.partitionBy($"br_meta", $"role").orderBy($"src", $"ord", $"ar_meta")
    val finalRoles = storeSeqAll
      .select($"br_meta", $"role", $"ar_meta", $"ra_meta", lit(0).as("src"), $"pos".as("ord"))
      .unionByName(batchRolesFinal)
      .withColumn("pos", row_number().over(rolesW).cast("long"))
      .select($"br_meta", $"role", $"pos", $"ar_meta", $"ra_meta")
      .localCheckpointClamped()

    // RA display names: store title wins; given-name fill (name_check,
    // curator.py:1016-1024 + 719-737) completes a family-only store name
    // from the batch, for non-publisher roles.
    val batchNames = remapCol(
      fresh.raNames.withColumn("temp_n", tempN($"ra_meta")), "ra_meta")
      .groupBy($"ra_meta")
      .agg(min_by($"name", $"temp_n").as("b_name"),
        min(when($"name".contains(",") &&
          length(trim(expr("substring(name, instr(name, ',') + 1)"))) > 0,
          struct($"temp_n", $"name"))).getField("name").as("b_name_given"))
    val nonPubRa = finalRoles.filter($"role" =!= "publisher")
      .select($"ra_meta").distinct().withColumn("name_fill_ok", lit(true))
    val batchRaIdsByFinal = remapCol(
      batchIdLiterals.filter($"owner_meta".startsWith("ra/")), "owner_meta")
      .groupBy($"owner_meta").agg(sort_array(collect_set($"literal")).as("b_ids"))
      .withColumnRenamed("owner_meta", "ra_meta")
    val raDisplay = finalRoles.select($"ra_meta").distinct()
      .join(store.raNames.select($"ra_meta", $"name".as("s_name")), Seq("ra_meta"), "left")
      .join(batchNames, Seq("ra_meta"), "left")
      .join(nonPubRa, Seq("ra_meta"), "left")
      .join(storeIdsByOwner.select($"owner_meta".as("ra_meta"), $"st_ids"), Seq("ra_meta"), "left")
      .join(batchRaIdsByFinal, Seq("ra_meta"), "left")
      .withColumn("s_given",
        when($"s_name".contains(","), trim(expr("substring(s_name, instr(s_name, ',') + 1)"))))
      .withColumn("b_given",
        when($"b_name_given".isNotNull, trim(expr("substring(b_name_given, instr(b_name_given, ',') + 1)"))))
      .withColumn("name",
        when(nonBlank($"s_name"),
          when($"s_name".contains(",") && !nonBlank($"s_given") && $"b_given".isNotNull &&
            coalesce($"name_fill_ok", lit(false)),
            concat(substring_index($"s_name", ",", 1), lit(", "), $"b_given"))
            .otherwise($"s_name"))
          .otherwise(coalesce($"b_name", lit(""))))
      .withColumn("ra_ids",
        array_distinct(concat(coalesce($"st_ids", array()), coalesce($"b_ids", array()))))
      .select($"ra_meta", $"name", $"ra_ids")
      .localCheckpointClamped()

    val roleElems = finalRoles.join(raDisplay, Seq("ra_meta"))
      .withColumn("ids_omid", concat_ws(" ",
        concat($"ra_ids", array(concat(lit("omid:"), $"ra_meta")))))
      .withColumn("cell", when(nonBlank($"name"),
        concat($"name", lit(" ["), $"ids_omid", lit("]")))
        .otherwise(concat(lit("["), $"ids_omid", lit("]"))))
    val roleCells = roleElems.groupBy($"br_meta", $"role").agg(
      concat_ws("; ", transform(array_sort(collect_list(struct($"pos", $"cell"))),
        x => x.getField("cell"))).as("role_cell"),
      concat_ws("; ", transform(array_sort(collect_list(struct($"pos", $"ar_meta", $"ra_meta"))),
        x => concat(x.getField("ar_meta"), lit(", "), x.getField("ra_meta")))).as("ar_pairs"))
      .localCheckpointClamped()
    def roleCellFor(role: String, key: String) = roleCells.filter($"role" === role)
      .select($"br_meta".as(key), $"role_cell".as(role + "_cell2"))

    // ---- equalizer inputs (J5/J6, curator.py:1402-1460) -----------------
    val storeFacts = store.entities.select($"meta".as("br_meta"),
      $"title".as("st_title"), $"date".as("st_date"), $"type_label".as("st_type"),
      lit(true).as("_adopted"))
    val storePages = store.pages.select($"br_meta", $"page".as("st_page"))
    // volume/issue/venue from the br's store partOf chain (retrieve_br_
    // info_from_meta): own seq for jv/ji rows, parent issue seq, parent/
    // grandparent volume seq, first titled non-jv/ji container = venue.
    val stVvi = {
      def entAs(n: String) = store.entities.select($"meta".as(s"${n}_meta"),
        $"type_label".as(s"${n}_type"), $"title".as(s"${n}_title"), $"seq_id".as(s"${n}_seq"))
      val po = store.partOf
      store.entities.select($"meta".as("br_meta"), $"type_label".as("own_type"),
          $"seq_id".as("own_seq"))
        .join(po.select($"child_meta".as("br_meta"), $"parent_meta".as("c1_meta")), Seq("br_meta"), "left")
        .join(entAs("c1"), Seq("c1_meta"), "left")
        .join(po.select($"child_meta".as("c1_meta"), $"parent_meta".as("c2_meta")), Seq("c1_meta"), "left")
        .join(entAs("c2"), Seq("c2_meta"), "left")
        .join(po.select($"child_meta".as("c2_meta"), $"parent_meta".as("c3_meta")), Seq("c2_meta"), "left")
        .join(entAs("c3"), Seq("c3_meta"), "left")
        .select($"br_meta",
          when($"own_type" === "journal issue", $"own_seq")
            .otherwise(when($"c1_type" === "journal issue", $"c1_seq")).as("st_issue"),
          when($"own_type" === "journal volume", $"own_seq")
            .otherwise(coalesce(
              when($"c1_type" === "journal volume", $"c1_seq"),
              when($"c2_type" === "journal volume", $"c2_seq"))).as("st_volume"),
          coalesce(
            when(!$"c1_type".isin("journal volume", "journal issue") && length($"c1_title") > 0, $"c1_meta"),
            when(!$"c2_type".isin("journal volume", "journal issue") && length($"c2_title") > 0, $"c2_meta"),
            when(length($"c3_title") > 0, $"c3_meta")).as("st_venue_meta"))
        .filter($"st_issue".isNotNull || $"st_volume".isNotNull || $"st_venue_meta".isNotNull)
    }
    val storeVenueCells = store.entities
      .join(store.entityIds.groupBy($"owner_meta")
        .agg(sort_array(collect_set($"literal")).as("st_venue_ids")),
        $"meta" === $"owner_meta", "left")
      .select($"meta".as("st_venue_meta"), $"title".as("st_venue_name"),
        coalesce($"st_venue_ids", array().cast("array<string>")).as("st_venue_ids"),
        concat($"title", lit(" ["), concat_ws(" ",
          flatten(array(array(concat(lit("omid:"), $"meta")), coalesce($"st_venue_ids", array())))),
          lit("]")).as("st_venue_cell"))

    // ---- row assembly ---------------------------------------------------
    val freshEntTitles = fresh.entities
      .select($"meta".as("venue_meta"), $"title".as("b_vtitle"))
    val rows0 = fresh.rows
      .join(freshEntTitles, Seq("venue_meta"), "left")
      .withColumn("batch_vids",
        filter(split(regexp_extract($"venue", "\\[([^\\]]*)\\]", 1), "\\s+"),
          t => !t.startsWith("omid:") && length(t) > 0))
      .withColumn("batch_id_tokens",
        filter(split($"id", "\\s+"), t => !t.startsWith("omid:") && length(t) > 0))
    // dnr_* join keys on the TEMP br meta (donorAgg is computed pre-remap)
    val rows1 = remapCols(rows0.join(donorAgg, Seq("br_meta"), "left"),
      Seq("br_meta", "re_meta", "ed_attach_meta", "venue_meta"))
      // venue cell rebuilt from the resolved venue entity (enrich(),
      // curator.py:995-1008): store title + store-id union when adopted.
      .join(storeMetas.select($"meta".as("venue_meta"), lit(true).as("v_adopted")),
        Seq("venue_meta"), "left")
      .join(storeIdsByOwner.select($"owner_meta".as("venue_meta"), $"st_ids".as("v_st_ids")),
        Seq("venue_meta"), "left")
      .join(store.entities.select($"meta".as("venue_meta"), $"title".as("v_st_title")),
        Seq("venue_meta"), "left")
      .withColumn("v_name", when(nonBlank($"v_st_title"), $"v_st_title")
        .otherwise(coalesce($"b_vtitle", lit(""))))
      .withColumn("v_ids", array_distinct(concat(
        coalesce($"v_st_ids", array().cast("array<string>")), $"batch_vids")))
      .withColumn("v_ids_omid", when($"venue_meta".isNotNull,
        concat($"v_ids", array(concat(lit("omid:"), $"venue_meta")))))
      .withColumn("venue_resolved", when($"venue_meta".isNotNull,
        when(nonBlank($"v_name"),
          concat($"v_name", lit(" ["), concat_ws(" ", $"v_ids_omid"), lit("]")))
          .otherwise(concat(lit("["), concat_ws(" ", $"v_ids_omid"), lit("]"))))
        .otherwise(lit("")))
      // id cell: adopted entity's store ids union the batch ids (enrich():
      // row id = entity_store ids | omid)
      .join(storeIdsByOwner.select($"owner_meta".as("br_meta"), $"st_ids".as("br_st_ids")),
        Seq("br_meta"), "left")
      .withColumn("id", concat_ws(" ", concat(
        array_distinct(concat(coalesce($"br_st_ids", array().cast("array<string>")),
          $"batch_id_tokens")),
        array(concat(lit("omid:"), $"br_meta")))))

    val rows2base = rows1
      .join(storeFacts, Seq("br_meta"), "left")
      .join(storePages, Seq("br_meta"), "left")
      .join(stVvi, Seq("br_meta"), "left")
      .join(storeVenueCells, Seq("st_venue_meta"), "left")
      .join(roleCellFor("author", "br_meta"), Seq("br_meta"), "left")
      .join(roleCellFor("publisher", "br_meta"), Seq("br_meta"), "left")
      .join(roleCellFor("editor", "ed_attach_meta"), Seq("ed_attach_meta"), "left")
      .withColumn("title", when(nonBlank($"st_title"), $"st_title").otherwise($"title"))
      // J6: store precedence first (equalizer, curator.py:1415-1417),
      // then donor-row propagation — the first non-empty value among the
      // rows that resolved to the store entity (donor gate above) — and
      // finally the last row's own value (fresh components and adopted
      // components whose donors leave the column empty).
      .withColumn("pub_date", when(nonBlank($"st_date"), $"st_date")
        .otherwise(when(nonBlank($"dnr_date"), $"dnr_date").otherwise($"pub_date")))
      .withColumn("type", when(nonBlank($"st_type"), $"st_type")
        .otherwise(when(nonBlank($"dnr_type"), $"dnr_type").otherwise($"type")))
      .withColumn("volume", when(nonBlank($"st_volume"), $"st_volume")
        .otherwise(when(nonBlank($"dnr_volume"), $"dnr_volume").otherwise($"volume")))
      .withColumn("issue", when(nonBlank($"st_issue"), $"st_issue")
        .otherwise(when(nonBlank($"dnr_issue"), $"dnr_issue").otherwise($"issue")))
      .withColumn("page", when(nonBlank($"st_page"), $"st_page").otherwise($"page"))
      // venue equalizer (curator.py:1422-1447): store-chain venue replaces
      // an empty batch venue outright; same venue or shared ids merge
      // (store name + sorted id union); disjoint ids mean the store venue
      // wins wholesale.
      .withColumn("venue", when(nonBlank($"st_venue_cell"),
        when(!nonBlank($"venue_resolved"), $"st_venue_cell")
          .when($"venue_meta" === $"st_venue_meta" ||
            arrays_overlap($"batch_vids", coalesce($"st_venue_ids", array().cast("array<string>"))),
            concat($"st_venue_name", lit(" ["),
              concat_ws(" ", sort_array(array_union(
                coalesce($"v_ids_omid", array().cast("array<string>")),
                concat(coalesce($"st_venue_ids", array().cast("array<string>")),
                  array(concat(lit("omid:"), $"st_venue_meta")))))),
              lit("]")))
          .otherwise($"st_venue_cell"))
        .otherwise($"venue_resolved"))
      // agent cells rebuilt from the final sequences (ra_update)
      .withColumn("author", coalesce($"author_cell2", lit("")))
      .withColumn("publisher", coalesce($"publisher_cell2", lit("")))
      .withColumn("editor", coalesce($"editor_cell2", lit("")))

    // store venues materialized through the equalizer feed the id indexes
    // and the vvi subtree union below
    val matVenuesEq = rows2base.filter($"st_venue_meta".isNotNull)
      .select($"st_venue_meta".as("meta")).distinct()

    val rows2pre = rows2base.drop(
      "st_title", "st_date", "st_type", "st_page", "st_volume", "st_issue",
      "st_venue_meta", "st_venue_name", "st_venue_ids", "st_venue_cell",
      "_adopted", "author_cell2", "publisher_cell2", "editor_cell2",
      "b_vtitle", "batch_vids", "batch_id_tokens", "v_adopted", "v_st_ids",
      "v_st_title", "v_name", "v_ids", "v_ids_omid", "venue_resolved", "br_st_ids",
      "dnr_date", "dnr_type", "dnr_volume", "dnr_issue")

    // Distinct batch components can land on the SAME store entity (shared
    // ids through the store, or the merged-entity hop). The reference's
    // enrich() unions all ids per entity and its final `{id: row}` dedupe
    // keeps the last row's fields (curator.py:333) while the row keeps its
    // first position — reproduce that by grouping on the final br_meta.
    val rows2 = {
      val cols = rows2pre.columns
      val others = cols.filterNot(c => c == "br_meta" || c == "id" || c == "first_row")
      val aggs: Seq[Column] =
        Seq(
          min($"first_row").as("first_row"),
          concat_ws(" ", array_distinct(flatten(transform(
            array_sort(collect_list(struct($"first_row".as("k"), split($"id", " ").as("v")))),
            x => x.getField("v"))))).as("id")) ++
          others.map(c =>
            max(struct($"first_row".as("_k"), col(c).as("_v"))).getField("_v").as(c))
      rows2pre.groupBy($"br_meta").agg(aggs.head, aggs.tail: _*)
        .select(cols.map(col): _*)
    }

    // ---- index tables ---------------------------------------------------
    // id indexes: batch literals keep their (possibly store-adopted) id
    // metas; materialized store entities contribute their store ids with
    // STORE id metas (__update_id_count / retrieve_metaid_from_id).
    val storeRaOwners = finalRoles.select($"ra_meta".as("owner_meta")).distinct()
      .join(storeMetas.withColumnRenamed("meta", "owner_meta"), Seq("owner_meta"), "left_semi")
    val storeBrOwners = adoptedStoreBrs.select($"br_meta".as("owner_meta"))
      .unionByName(matVenuesEq.select($"meta".as("owner_meta")))
      .distinct()
    val idxBrStore = store.entityIds
      .join(storeBrOwners, Seq("owner_meta"), "left_semi")
      .select($"literal".as("id"), $"id_meta".as("meta"))
    val idxRaStore = store.entityIds
      .join(storeRaOwners, Seq("owner_meta"), "left_semi")
      .select($"literal".as("id"), $"id_meta".as("meta"))
    val indexIdBr2 = remapCol(fresh.indexIdBr, "meta").unionByName(idxBrStore)
      .distinct().orderBy($"meta")
    val indexIdRa2 = remapCol(fresh.indexIdRa, "meta").unionByName(idxRaStore)
      .distinct().orderBy($"meta")

    val arIndex2 = roleCells.groupBy($"br_meta".as("meta"))
      .agg(max(when($"role" === "author", $"ar_pairs")).as("author"),
        max(when($"role" === "editor", $"ar_pairs")).as("editor"),
        max(when($"role" === "publisher", $"ar_pairs")).as("publisher"))
      .select($"meta", coalesce($"author", lit("")).as("author"),
        coalesce($"editor", lit("")).as("editor"),
        coalesce($"publisher", lit("")).as("publisher"))
      .orderBy($"meta")

    val storeRe = store.pages.join(adoptedStoreBrs, Seq("br_meta"), "left_semi")
    val reIndex2 = remapCols(fresh.reIndex, Seq("br", "re"))
      .unionByName(storeRe.select($"br_meta".as("br"), $"re_meta".as("re")))
      .distinct().orderBy($"br")
    val pages2 = remapCols(fresh.pages, Seq("br_meta", "re_meta"))
      .withColumn("psrc", lit(1))
      .unionByName(storeRe.select($"br_meta", $"re_meta",
        substring_index($"page", "-", 1).as("start_page"),
        when($"page".contains("-"), substring_index($"page", "-", -1))
          .otherwise($"page").as("end_page"))
        .withColumn("psrc", lit(0)))
      .groupBy($"br_meta")
      .agg(min_by(struct($"re_meta", $"start_page", $"end_page"),
        struct($"psrc", $"re_meta")).as("p"))
      .select($"br_meta", $"p.re_meta".as("re_meta"),
        $"p.start_page".as("start_page"), $"p.end_page".as("end_page"))

    // vvi: remapped batch rows union the store SPINES the batch actually
    // reached. retrieve_venue_from_local_graph (finder.py) reads only the
    // PREFETCHED local graph, and get_everything_about_res walks OUTBOUND
    // edges from (row ids, venue metaids, row-specific (venue, vol, iss)
    // seeds) — so a venue's children appear only when a row referenced
    // their sequence values (covered here by vviAdopt -> vviBatch) or
    // when the adopted br IS a store volume/issue, whose outbound partOf
    // walk pulls its ANCESTORS but never its sibling/child entities
    // (testcases 15.5/15.6: adopted volume materializes without its
    // issues; 15.1/15.8: a row naming vol+iss materializes the full
    // spine).
    val vviBatch = remapCols(fresh.vviIndex, Seq("venue_meta", "meta"))
    val matVenuesAll = vviBatch.select($"venue_meta".as("meta")).distinct()
      .join(storeMetas, Seq("meta"), "left_semi")
      .unionByName(matVenuesEq).distinct()
    // outbound partOf closure of the adopted BRs (bounded: article ->
    // issue -> volume -> venue is the deepest store chain) — an adopted
    // article inside an issue pulls issue AND volume (testcase 13.1/14.1/
    // 16.2), an adopted volume pulls only itself (15.5/15.6)
    val parentHop = store.partOf
      .select($"child_meta".as("meta"), $"parent_meta")
    val adopted0 = brMap.select($"to_meta".as("meta")).distinct()
    val adoptedReach = (1 to 3).scanLeft(adopted0) { (frontier, _) =>
      frontier.join(parentHop, Seq("meta")).select($"parent_meta".as("meta"))
    }.reduce(_ unionByName _).distinct()
    val subtreeRows = storeSubtree
      .join(adoptedReach.select($"meta".as("vvi_meta")), Seq("vvi_meta"), "left_semi")
      .join(matVenuesAll.select($"meta".as("venue_meta")), Seq("venue_meta"), "left_semi")
      .select($"venue_meta", $"vol_seq", $"iss_seq", $"vvi_meta".as("meta"))
    val vviIndex2 = vviBatch.unionByName(subtreeRows).distinct()
      .orderBy($"venue_meta", $"vol_seq", $"iss_seq")

    // ---- entity-level frames -------------------------------------------
    val entities2 = remapCol(fresh.entities, "meta")
      .join(storeFacts.select($"br_meta".as("meta"), $"st_title", $"st_date", $"st_type"),
        Seq("meta"), "left")
      .withColumn("title", when(nonBlank($"st_title"), $"st_title").otherwise($"title"))
      .withColumn("date", when(nonBlank($"st_date"), $"st_date").otherwise($"date"))
      .withColumn("type_label", when(nonBlank($"st_type"), $"st_type").otherwise($"type_label"))
      .drop("st_title", "st_date", "st_type")

    // The re-emitted graph of an ADOPTED entity must be its full entity
    // state, not just what this batch's rows restate — the reference
    // loads the existing entity (finder prefetch) and updates it, so a
    // field the row omits is KEPT, never retracted. Found r17 by the
    // MetaProcess sinks receipt: an enrichment row with an empty venue
    // cell produced a store update that DELETED the br's partOf edge,
    // and an adopted agent lost its identifier edge — the equalizer had
    // fixed the display CELLS but the emission frames still carried only
    // the batch-side structures. Two completions, mirroring enrich():
    //  - store id edges of adopted BRs and RAs re-enter entityIds (the
    //    row id cell already unioned them; the edges must too). Equalizer
    //    venues are deliberately NOT included — they are not re-emitted
    //    as full subjects, so their store graphs must stay untouched.
    //  - store partOf edges of adopted BRs win over any batch-side parent
    //    edge (equalizer precedence: the store chain stands whether the
    //    row omitted or disagreed on the venue); fresh edges survive only
    //    for children with no store parent (a genuine venue ADDITION).
    val entityIds2 = {
      val adoptedIdOwners = adoptedStoreBrs.select($"br_meta".as("owner_meta"))
        .unionByName(storeRaOwners).distinct()
      val storeIdRows = store.entityIds
        .join(adoptedIdOwners, Seq("owner_meta"), "left_semi")
        .select($"owner_meta", $"id_meta",
          substring_index($"literal", ":", 1).as("scheme"),
          expr("substring(literal, instr(literal, ':') + 1)").as("value"))
      remapCols(fresh.entityIds, Seq("owner_meta", "id_meta"))
        .unionByName(storeIdRows).distinct()
    }
    val partOf2 = {
      val storeParents = store.partOf
        .join(adoptedStoreBrs.select($"br_meta".as("child_meta")),
          Seq("child_meta"), "left_semi")
      remapCols(fresh.partOf, Seq("child_meta", "parent_meta"))
        .join(storeParents.select($"child_meta"), Seq("child_meta"), "left_anti")
        .unionByName(storeParents)
        .distinct()
    }

    val batch2 = Curator.CuratedBatch(
      rows = rows2,
      indexIdBr = indexIdBr2,
      indexIdRa = indexIdRa2,
      arIndex = arIndex2,
      reIndex = reIndex2,
      vviIndex = vviIndex2,
      entities = entities2,
      entityIds = entityIds2,
      roles = finalRoles,
      raNames = raDisplay.select($"ra_meta", $"name"),
      pages = pages2,
      partOf = partOf2,
      explicitRefs = remapCol(fresh.explicitRefs, "owner_meta"),
      rowProp = remapCol(fresh.rowProp, "br_meta"))

    // D9 preexisting: every store entity re-surfacing in this batch —
    // adopted entities plus the store structures materialized alongside
    // them (role sequences, res, vvi subtrees, equalizer venues, id
    // entities) — get_preexisting_entities, curator.py:872-903.
    val preexisting = Seq(
      adoptAll.select($"to_meta".as("meta")),
      storeSeqAll.select($"ar_meta".as("meta")),
      storeSeqAll.select($"ra_meta".as("meta")),
      storeRe.select($"re_meta".as("meta")),
      subtreeRows.select($"meta"),
      matVenuesAll.select($"meta"),
      idxBrStore.select($"meta"),
      idxRaStore.select($"meta"))
      .reduce(_ unionByName _).distinct()

    UpdateResult(batch2, preexisting)
  }

  private def nonBlank(c: Column) = c.isNotNull && length(c) > 0

  private def firstNonEmpty(valueCol: Column, rowIdx: Column): Column =
    Curator.firstNonEmpty(valueCol, rowIdx)

  /** D5 AR-sequence candidate matching (clean_ra, curator.py:634-742),
    * equality-keyed.
    *
    * Round-8 shape joined `batchSeqRoles x storeSeq` on (store_br, role)
    * FIRST and applied the id/name equality as a post-join filter — that
    * materializes |batch agents| x |store sequence| rows per key before
    * anything is discarded: measured 19.9 s for ONE 2869-author record on
    * the high-author update leg (2869^2 ~ 8.2 M candidates on a single
    * key), and HEP-style corpora carry thousands of such BRs. Here the
    * match literal/name is attached to EACH side before the join, so the
    * join key is (store_br, role, literal) for the id match and
    * (store_br, role, name) for the exact-name match — a shuffle bucket
    * then holds only rows that actually agree on the key, making the
    * per-(BR, role) cost O(actual matches) instead of O(|A| x |S|).
    * Tie-breaks are unchanged: id match outranks name match (mprio),
    * then lowest store position.
    *
    * @param batchSeqRoles (store_br, role, temp_ar, temp_ra)
    * @param storeSeq      (store_br, role, st_pos, st_ar, st_ra)
    * @param batchRaIds    (temp_ra, literal) distinct
    * @param storeRaIds    (st_ra, literal) distinct
    * @param batchRaNames  (ra_meta, name) — fresh batch RA names
    * @param storeRaNames  (ra_meta, name) — store RA names
    * @return one row per matched (temp_ar, temp_ra) with the adopted
    *         (st_ar, st_ra). */
  private[graft] def alignArSequences(
      batchSeqRoles: DataFrame, storeSeq: DataFrame,
      batchRaIds: DataFrame, storeRaIds: DataFrame,
      batchRaNames: DataFrame, storeRaNames: DataFrame): DataFrame = {
    val spark = batchSeqRoles.sparkSession
    import spark.implicits._
    val seqIdMatch = batchSeqRoles.join(batchRaIds, Seq("temp_ra"))
      .join(storeSeq.join(storeRaIds, Seq("st_ra")),
        Seq("store_br", "role", "literal"))
      .select($"temp_ar", $"temp_ra", $"st_ar", $"st_ra", $"st_pos", lit(1).as("mprio"))
    // name match is EXACT (case included): curator.py:699 compares the
    // store title to the cleaned batch name with ==.
    val seqNameMatch = batchSeqRoles
      .join(batchRaNames.select($"ra_meta".as("temp_ra"), $"name"), Seq("temp_ra"))
      .filter(nonBlank($"name"))
      .join(storeSeq.join(
          storeRaNames.select($"ra_meta".as("st_ra"), $"name"), Seq("st_ra")),
        Seq("store_br", "role", "name"))
      .select($"temp_ar", $"temp_ra", $"st_ar", $"st_ra", $"st_pos", lit(2).as("mprio"))
    seqIdMatch.unionByName(seqNameMatch)
      .groupBy($"temp_ar", $"temp_ra")
      .agg(min(struct($"mprio", $"st_pos", $"st_ar", $"st_ra")).as("m"))
      .select($"temp_ar", $"temp_ra",
        $"m.st_ar".as("st_ar"), $"m.st_ra".as("st_ra"))
  }
}
