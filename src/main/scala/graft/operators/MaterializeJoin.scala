package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraftCatalog

/** Incremental maintenance of an aggregate over an equi-join of a FACT
  * table and N side tables where EVERY table mutates — the general
  * join IVM the star path deliberately excludes (a
  * [[Materialize.StarDerive]] dimension is fingerprint-FROZEN; here
  * every side may churn freely and the fold stays exact).
  *
  * V = γ_G(F ⋈ₖ₁ S₁ ⋈ₖ₂ … ⋈ₖₙ Sₙ), INNER equi-joins on same-named key
  * columns, each side's keys living on the FACT (the star/galaxy
  * shape). The delta rule is the signed (counting) telescoping
  * expansion (Blakeley et al., SIGMOD 1986; Griffin & Libkin, SIGMOD
  * 1995) — for two sides:
  *
  *   Δ(F⋈S₁⋈S₂) = ΔF ⋈ S₁_old ⋈ S₂_old
  *              ∪ F_new ⋈ ΔS₁ ⋈ S₂_old
  *              ∪ F_new ⋈ S₁_new ⋈ ΔS₂
  *
  * — sides BEFORE the delta factor read NEW, sides AFTER read OLD.
  * Every read is version-bounded to ONE consistent window: refresh
  * samples each table's high-water mark up front, deltas cover exactly
  * (last, new], OLD factors read as of the last fold's marks and NEW
  * factors as of the sampled ones ([[GraftCatalog.snapshotUpTo]]) —
  * so every cross term lands exactly once however the logs interleave,
  * and a write landing on ANY table while the refresh runs is excluded
  * now and folded exactly once by the next refresh (an unbounded NEW
  * read would fold it while the recorded marks say it wasn't —
  * double-counted on the next fold). Each signed delta row (insert +1,
  * retraction pre-image −1, reconstructed from the change log exactly
  * like [[Materialize.refresh]]'s retraction slice) carries its weight
  * through the joins (snapshots are all +1).
  *
  * Per-refresh cost is O(delta × join fan-out), NOT O(F) + Σ O(Sᵢ):
  * every leg's non-delta reads are key-bounded — a distinct-key
  * semi-join caps the SHUFFLE, and the delta's [min, max] key zone
  * bounds the READ below the last-wins collapse (PK keys via
  * Catalyst's grouping-key pushdown; non-PK fact FKs under the
  * declared-immutability contract via
  * [[GraftCatalog.snapshotPrefiltered]]). COUNT/SUM fold algebraically
  * through the signed weights; MIN/MAX retraction groups ride the same
  * extremum gate as the single-table fold, and gated-in groups
  * recompute from the joined current snapshots restricted to those
  * groups with IN-pushdown on the plain group columns.
  *
  * Scope guard: every table must be TTL-free (time-based expiry of
  * JOINED rows needs all sides' expiry windows crossed — refused, not
  * silently wrong); any table compacting since the last fold (history
  * discarded) forces a full rebuild. State layout matches
  * [[Materialize.aggregate]] (cnt / cnt_m / sum_m / min_m / max_m), so
  * everything downstream of a single-table MV (serving, reads,
  * rewrite) works unchanged.
  *
  * The MV is built by [[Materialize.build]] from a [[ChainSpec]] — the
  * one build of both kinds, a single-table MV being the chain with no
  * sides. This object holds the chain spec, the join-only build checks
  * ([[validate]] and the immutability sweep), the serving joins of a
  * join MV's registration, and the chain fold [[Materialize.refresh]]
  * runs for a join meta.
  *
  * Reference: apache/phoenix maintains only single-table secondary
  * indexes and has no join-view maintenance
  * (phoenix-core-client/src/main/java/org/apache/phoenix/compile/
  * JoinCompiler.java:1 computes joins per query); this operator is the
  * warehouse-side generalization a 100 TB fact-to-fact dashboard
  * needs.
  */
object MaterializeJoin {

  /** One side of the chain: same-named `keys` in the fact and this
    * table. `sideKeysImmutable` / `factKeysImmutable` declare that the
    * key VALUES never change across versions of a PK on that side
    * (the FK-fixed-at-insert shape) — under the contract the refresh
    * zone-filters that side's RAW log below the last-wins collapse
    * ([[GraftCatalog.snapshotPrefiltered]]), where parquet row-group
    * stats prune the untouched base; without it a non-PK key only
    * filters ABOVE the collapse and the leg pays a full read (shuffle
    * still delta-bounded). Keys that ARE the table's PK need no
    * declaration. The contract is ENFORCED: build sweeps the full
    * history and every refresh sweeps its delta window, REFUSING on an
    * unsafe key mutation (a change without an intervening tombstone —
    * delete-then-reinsert under a new key is provably safe and stays
    * allowed) instead of surfacing stale winners. */
  final case class SideSpec(table: String, keys: Seq[String],
      sideKeysImmutable: Boolean = false,
      factKeysImmutable: Boolean = false)

  /** Fact ⋈ N mutating sides. Each side's keys live on the FACT (the
    * star/galaxy shape) or on ONE side declared EARLIER (the SNOWFLAKE
    * shape — e.g. orders ⋈ customer ⋈ nation with `nationkey` on
    * customer): the join graph must be a TREE rooted at the fact, and
    * a key set spanning several tables refuses. The telescoping delta
    * algebra is key-topology-agnostic (it is the product rule over
    * join factors); what the tree buys is BOUNDED legs — each side's
    * delta leg joins outward from the delta along tree edges, every
    * factor key-bounded by what the accumulated join already holds,
    * so an INTERMEDIATE side churning (the case the fingerprint-frozen
    * star derives refuse) folds delta-sized.
    *
    * `leftOuter = true` maintains γ(F ⟕ S₁ ⟕ … ⟕ Sₙ) instead: an
    * unmatched fact row joins NULL side attributes (and a NULL join
    * key on the fact is permanently unmatched), a side insert MOVES
    * facts out of the NULL group, a side's last-row delete moves them
    * back. Incrementally this is the null-extension delta rule
    * (Griffin & Libkin's outer-join variants; Larson & Zhou, ICDE
    * 2007): each side factor is modeled as the EXTENDED relation
    * Ŝ = S ∪ {⟨k, NULL attrs⟩ : S has no row with key k}, turning the
    * left join into an inner join F ⋈ Ŝ — so the same telescoping
    * legs apply, with ΔŜ = ΔS plus a ±1 synthetic NULL row per
    * delta-touched key whose match count crossed zero (computed from
    * two delta-key-bounded count probes, never a side scan). */
  /** `fullOuter = true` (star-shaped chains: every side keyed on the
    * FACT) maintains γ(F ⟗ S₁ ⟗ … ⟗ Sₙ): the sequential full join
    * decomposes as (F ⟕ S₁ ⟕ … ⟕ Sₙ) ⊎ ⊎ᵢ(Sᵢ ▷ F × NULL_rest) — the
    * left part rides the `leftOuter` machinery unchanged (a
    * side-i-dangling row's NULL fact keys never match the other
    * sides, so each dangling part is independent), and each side's
    * dangling part gets two more telescoping legs over the FACT's
    * null-extension indicator F̂nᵢ (one NULL-fact row per keyᵢ the
    * fact does not hold): ΔF̂nᵢ ⋈ Sᵢ_old (fact-count zero crossings,
    * delta-key-bounded) and F̂nᵢ_new ⋈ ΔSᵢ (side-delta rows whose key
    * has no fact match at the new mark — a NULL side key never
    * matches, so such rows are permanently dangling and fold here
    * too). Serving: FULL OUTER queries through the rewrite
    * (`fullState` contract — INNER/LEFT/un-joined refuse), or
    * read()/API. */
  /** `factFilterSql`: WHERE-filtered join MV — a row predicate (SQL
    * text over FACT columns only) applied to every fact read of the
    * build and every refresh fold (deltas, fact factors, recomputes).
    * For INNER and LEFT chains filtering the fact BELOW the join
    * equals filtering the joined rows on the same fact columns (every
    * output row carries real fact values), so the state answers the
    * post-join WHERE exactly; FULL chains refuse (a post-join fact
    * filter drops side-dangling rows — that query is the LEFT MV of
    * the filtered fact, not a filtered FULL join). The text rides the
    * meta, so API refreshes stay correct without the caller holding
    * the filter.
    *
    * A single-table MV is the chain with no sides, `ChainSpec(t)`: its
    * WHERE is `factFilterSql` too, and [[Materialize.build]] builds
    * both kinds from the one spec. */
  final case class ChainSpec(fact: String, sides: Seq[SideSpec] = Nil,
      leftOuter: Boolean = false, fullOuter: Boolean = false,
      factFilterSql: Option[String] = None) {
    /** Every table the chain folds, fact first. */
    def tables: Seq[String] = fact +: sides.map(_.table)
  }

  private def requireNoTtl(cat: GraftCatalog, table: String): Unit =
    require(cat.ttlSeconds(table).isEmpty,
      s"join-MV maintenance requires TTL-free tables; '$table' has a " +
        "TTL (joined-row expiry would need all sides' windows crossed)")

  /** The joined snapshot AS OF one consistent set of version marks —
    * every factor read version-bounded ([[GraftCatalog.snapshotUpTo]]),
    * so a write landing on any involved table while this plan runs is
    * excluded here and folded exactly once by the refresh that records
    * a mark past it. */
  /** `tableFilter` pre-filters each table's snapshot read BELOW the
    * joins — identity by default; [[recomputeJoined]] passes its
    * soundness-checked affected-group pushdown (Catalyst cannot push a
    * post-join filter through a FULL/LEFT join on its own). */
  private[operators] def joinedSnapshotAt(cat: GraftCatalog,
      cs: ChainSpec, vF: Long, vS: Seq[Long],
      tableFilter: String => Column = _ => lit(true)): DataFrame =
    cs.sides.zipWithIndex.foldLeft(
        factFiltered(cs, cat.snapshotUpTo(cs.fact, vF)
          .where(tableFilter(cs.fact)))) {
      case (acc, (s, i)) =>
        acc.join(cat.snapshotUpTo(s.table, vS(i))
            .where(tableFilter(s.table)), s.keys,
          if (cs.fullOuter) "full"
          else if (cs.leftOuter) "left" else "inner")
    }

  /** The fact filter of a WHERE-filtered chain applied to a frame of
    * fact ROW VALUES (snapshot winners, signed-delta rows — anything
    * carrying the fact columns). Identity when unfiltered. */
  private def factFiltered(cs: ChainSpec, df: DataFrame): DataFrame =
    cs.factFilterSql.map(f => df.where(expr(f))).getOrElse(df)

  /** Parent node per side: −1 = the fact, j ≥ 0 = side j. Resolution:
    * a side whose keys all live on the fact parents there; otherwise
    * they must all live on exactly the same EARLIER side. Enforces the
    * tree shape (and, transitively, that parents are declared before
    * children, so the declaration-order fold always has each side's
    * keys available). */
  private def parentsOf(cat: GraftCatalog, cs: ChainSpec): Seq[Int] = {
    val ff = cat.spec(cs.fact).schema.fieldNames.toSet
    cs.sides.zipWithIndex.map { case (s, i) =>
      if (s.keys.forall(ff.contains)) -1
      else {
        val cand = (0 until i).filter { j =>
          val sf = cat.spec(cs.sides(j).table).schema.fieldNames.toSet
          s.keys.forall(sf.contains)
        }
        require(cand.nonEmpty,
          s"side '${s.table}' keys ${s.keys} must all live on the " +
            "fact or on ONE side declared earlier (the join graph " +
            "must be a tree; a key set spanning tables is not " +
            "supported)")
        cand.head
      }
    }
  }

  private def parentTable(cs: ChainSpec, parents: Seq[Int], i: Int)
      : String =
    if (parents(i) == -1) cs.fact else cs.sides(parents(i)).table

  /** The join-only checks of [[Materialize.build]]: TTL-free tables,
    * join keys present, a tree-shaped join graph, outer-join and WHERE
    * shapes, no ambiguous column, every group and measure column in the
    * joined schema. */
  private[operators] def validate(cat: GraftCatalog, cs: ChainSpec,
      groupCols: Seq[String], measures: Seq[String],
      grains: Seq[(String, String)]): Unit = {
    cs.tables.foreach(requireNoTtl(cat, _))
    cs.sides.foreach { s =>
      val sf = cat.spec(s.table).schema.fieldNames.toSeq
      s.keys.foreach(k => require(sf.contains(k),
        s"join key '$k' must exist in '${s.table}'"))
    }
    val parents = parentsOf(cat, cs) // enforces the tree shape
    require(!cs.leftOuter || parents.forall(_ == -1),
      "leftOuter chains require every side keyed on the FACT (the " +
        "null-extension algebra is defined per fact row; LEFT " +
        "snowflake legs do not commute)")
    require(!(cs.leftOuter && cs.fullOuter),
      "leftOuter and fullOuter are mutually exclusive")
    require(cs.factFilterSql.isEmpty || !cs.fullOuter,
      "a WHERE-filtered FULL-outer MV is not what the post-join WHERE " +
        "means (it would drop the side-dangling rows — that query is " +
        "the LEFT MV of the filtered fact); filter an INNER or LEFT " +
        "chain instead")
    // fact-only reference check, eager and loud: resolving the
    // predicate against the BARE fact snapshot throws the analyzer's
    // unresolved-column error for anything else
    cs.factFilterSql.foreach(f =>
      cat.snapshot(cs.fact).limit(0).where(expr(f)))
    require(!cs.fullOuter || parents.forall(_ == -1),
      "fullOuter chains require every side keyed on the FACT: the " +
        "sequential full join then decomposes as the LEFT part plus " +
        "one independent side-dangling part per side (a snowflake " +
        "edge's null-extension does not commute through the chain)")
    // a column name may be shared across tables ONLY as a join key,
    // and only between a side and its PARENT (the two tables that
    // edge actually joins). This catches the plain duplicate (a
    // non-key column in two tables), the shadow case (a regular
    // column sharing a name with another side's join key), and the
    // snowflake-ambiguity case (the fact carrying a column named like
    // a side-on-side key) — all of which otherwise surfaced as an
    // ambiguous-column analysis error deep inside the first refresh
    val tableCols = cs.tables
      .map(t => t -> cat.spec(t).schema.fieldNames.toSeq)
    val legitHolders: Map[String, Set[String]] =
      cs.sides.zipWithIndex.flatMap { case (s, i) =>
        s.keys.map(k => k -> Set(s.table, parentTable(cs, parents, i)))
      }.groupBy(_._1)
        .map { case (k, vs) => k -> vs.flatMap(_._2).toSet }
    val dup = tableCols.flatMap { case (t, cols) => cols.map(t -> _) }
      .groupBy(_._2)
      .collect { case (c, owners) if owners.size > 1 &&
        !owners.forall { case (t, n) =>
          legitHolders.getOrElse(n, Set.empty).contains(t) } => c }
    require(dup.isEmpty,
      s"non-key columns must be unique across the join: ${dup.toSeq} " +
        "appear in more than one table (rename at the catalog schema)")
    val joined = tableCols.flatMap(_._2).distinct
    val grainNames = grains.map(_._1).toSet
    (groupCols ++ measures).filterNot(grainNames.contains)
      .foreach(c => require(joined.contains(c),
        s"column '$c' not present in the joined schema $joined"))
  }

  /** table → join-key columns the spec declares immutable on it.
    * `factKeysImmutable` binds to the side's PARENT table — the fact
    * in a star chain, the carrying side in a snowflake one. */
  private def declaredImmutable(cat: GraftCatalog, cs: ChainSpec)
      : Map[String, Seq[String]] = {
    val parents = parentsOf(cat, cs)
    val entries = cs.sides.zipWithIndex.flatMap { case (s, i) =>
      (if (s.sideKeysImmutable) Seq(s.table -> s.keys) else Nil) ++
        (if (s.factKeysImmutable)
          Seq(parentTable(cs, parents, i) -> s.keys) else Nil)
    }
    entries.groupBy(_._1)
      .map { case (t, vs) => t -> vs.flatMap(_._2).distinct }
  }

  /** ENFORCE the declared-immutability contract over `table`'s history
    * since `sinceV` (−1 = all of it, the build-time sweep): a declared
    * key whose value differs from the row's immediately-previous LIVE
    * version is the unsafe mutation — [[GraftCatalog
    * .snapshotPrefiltered]] would surface the stale version as a
    * phantom winner. A key change ACROSS A TOMBSTONE (delete, then
    * re-insert under a new key) is provably safe — the tombstone wins
    * any slice that keeps only the old key's history, so the row is
    * correctly absent there — and stays allowed. Build sweeps the full
    * log and every refresh sweeps its own delta window (whose lag
    * pre-images cross the window boundary), so any unsafe mutation is
    * caught at the first fold that could read it wrong; compaction
    * discards history but also forces a rebuild, which re-sweeps. */
  private def requireImmutable(cat: GraftCatalog, table: String,
      immKeys0: Seq[String], sinceV: Long, uptoV: Long): Unit = {
    // PK components are constant per row by construction — only
    // genuinely mutable columns need the sweep
    val immKeys = immKeys0.filterNot(cat.spec(table).pk.contains)
    if (immKeys.isEmpty) return
    val s = cat.spec(table)
    // the sweep covers exactly this fold's (sinceV, uptoV] window —
    // versions past the sampled mark belong to the NEXT refresh's
    // window and are swept there
    val changes = Materialize.preImageChanges(
      cat.changeLogRaw(table).where(col("_version") <= uptoV),
      s.schema.fieldNames.toSeq, s.pk, sinceV)
    val hasPrev =
      col("_prev").isNotNull && !col("_prev").getField("__del")
    val mutated = immKeys
      .map(k => !(col(k) <=> col(s"_prev.$k"))).reduce(_ || _)
    val bad = changes.where(hasPrev && mutated).limit(1).count()
    require(bad == 0,
      s"join key(s) ${immKeys.mkString(", ")} of '$table' are declared " +
        "immutable but changed across row versions — the declaration " +
        "is a correctness contract (a prefiltered read would surface " +
        "a stale version as the winner). Rebuild the MV without the " +
        "declaration, or delete-then-reinsert instead of overwriting " +
        "the key")
  }

  /** The build-time contract sweep of [[Materialize.build]]: every
    * declared-immutable key over its table's FULL history up to the
    * build's `marks` (aligned with `cs.tables`) — a pre-build unsafe
    * key mutation would corrupt every future prefiltered read. A chain
    * with no sides declares nothing. */
  private[operators] def requireImmutableUpTo(cat: GraftCatalog,
      cs: ChainSpec, marks: Seq[Long]): Unit =
    declaredImmutable(cat, cs).foreach { case (t, ks) =>
      requireImmutable(cat, t, ks, sinceV = -1L,
        uptoV = marks(cs.tables.indexOf(t)))
    }

  /** The serving joins of a join MV's registration
    * ([[Materialize.registerForRewrite]]), so
    * [[graft.plans.AggRewriteRule]] serves a matching
    * aggregate-over-join query from the state — one `DimJoinDef` per
    * side carrying the state's join-type contract (`innerState` for
    * the INNER chain: INNER queries serve, LEFT or un-joined refuse,
    * the state never counted unmatched fact rows; `leftState` for a
    * `leftOuter` chain: LEFT queries serve, INNER or un-joined refuse,
    * the state counted NULL-extended facts a tighter query would drop;
    * `fullState` for a `fullOuter` chain: FULL OUTER queries serve,
    * everything tighter refuses — the state counted dangling rows on
    * BOTH sides). */
  private[operators] def chainDims(cat: GraftCatalog, m: MvMeta,
      cs: ChainSpec): Seq[graft.plans.GraftAggViews.DimJoinDef] = {
    val served = m.groupCols ++ m.measures ++
      m.sketches.map(_._1) ++ m.topks.map(_._1)
    cs.sides.map { s =>
      val sf = cat.spec(s.table).schema.fieldNames.toSet
      // state columns living on THIS side serve through its join —
      // identity-mapped, the state stores the side's own names
      // (sketch/top-terms argument columns included, so a dim-side
      // distinct-count serves too)
      val attrs = served
        .filter(c => sf.contains(c) && !s.keys.contains(c))
        .map(c => c -> c).toMap
      graft.plans.GraftAggViews.DimJoinDef(cat.tablePath(s.table),
        factKeys = s.keys, dimKeys = s.keys, dimAttrs = attrs,
        innerState = !cs.leftOuter && !cs.fullOuter,
        leftState = cs.leftOuter, fullState = cs.fullOuter)
    }
  }

  /** Signed row-level delta of `table` since `lastV`: post images
    * weight +1, valid retraction pre-images weight −1 (the chain
    * telescopes for multi-version churn within one delta, exactly
    * like the single-table retraction slice — every within-delta post
    * is +1, so every within-delta pre-image was counted and retracts).
    * TTL-free tables only (enforced at build/refresh). */
  private def signedDelta(cat: GraftCatalog, table: String,
      lastV: Long, uptoV: Long): DataFrame = {
    val s = cat.spec(table)
    val fields = s.schema.fieldNames.toSeq
    // consistent (lastV, uptoV] window: a write landing past the
    // sampled mark while this refresh runs is NOT folded now — the
    // recorded meta stops at the mark, so the next refresh folds it
    // exactly once (unbounded, the same write folded here AND again
    // next time: the double-count the window exists to prevent)
    val changes = Materialize.preImageChanges(
      cat.changeLogRaw(table).where(col("_version") <= uptoV),
      fields, s.pk, lastV)
    val hasPrev =
      col("_prev").isNotNull && !col("_prev").getField("__del")
    val posts = changes.where(!col("_deleted"))
      .select(fields.map(col) :+ lit(1L).as("__w"): _*)
    val pres = changes.where(hasPrev)
      .select(fields.map(f => col(s"_prev.$f").as(f)) :+
        lit(-1L).as("__w"): _*)
    posts.unionByName(pres)
  }

  /** The non-delta factor of one delta-join leg, bounded to the
    * delta's join keys: a distinct-key semi-join caps the SHUFFLE, and
    * for a single-column key the delta's [min, max] zone filter bounds
    * the READ — below the last-wins collapse when that is sound (the
    * key is the table's PK, so a grouping-key filter pushes past the
    * aggregate on its own; or the spec declares the key immutable and
    * [[GraftCatalog.snapshotPrefiltered]] filters the raw log), where
    * parquet row-group stats skip the untouched base under any
    * key-clustered layout. Mutable non-PK keys keep the filter above
    * the collapse: still delta-bounded shuffle, full-scan read — the
    * honest fallback. */
  /** Per-refresh zone-probe memo: (delta frame, key) → probed bounds.
    * The same cached delta is probed from several legs (the
    * null-extension count pair probes it twice back-to-back), and each
    * probe is a serial DRIVER JOB — the memo collapses the duplicates,
    * and the parallel leg builders share it safely. Keyed by the
    * DataFrame REFERENCE (Dataset keeps default identity equals/
    * hashCode) — an identityHashCode key would collide across distinct
    * frames and serve the wrong bounds. */
  private type ZoneMemo = scala.collection.concurrent.TrieMap[
    (DataFrame, Seq[String]), Option[Option[(Any, Any)]]]

  /** The delta's [min, max] zone on a single-column key, memoized per
    * (delta, keys): `Some(None)` = every delta key NULL (no match
    * possible), `None` = no usable zone (multi-column or un-orderable
    * key). The probe is a serial driver job — the memo collapses
    * duplicate probes across legs. */
  private def zoneOf(delta: DataFrame, keys: Seq[String],
      memo: ZoneMemo): Option[Option[(Any, Any)]] =
    if (keys.size != 1) None
    else memo.getOrElseUpdate(
      (delta, keys),
      scala.util.Try {
        val b = delta.agg(min(col(keys.head)), max(col(keys.head))).head
        if (b.isNullAt(0)) Some(None) // delta keys all NULL: no match
        else Some(Some((b.get(0), b.get(1))))
      }.getOrElse(None)) // un-orderable key type: semi-join only

  private def boundedSide(cat: GraftCatalog, table: String,
      asOfV: Long, delta: DataFrame, keys: Seq[String],
      immutable: Boolean, memo: ZoneMemo = new ZoneMemo): DataFrame = {
    // ALWAYS version-bounded — NEW factors read as of the refresh's
    // sampled mark (snapshotUpTo rides the snapshot cache when it
    // can), OLD factors as of the last fold's mark; an unbounded
    // current-snapshot read would fold a mid-refresh write into a
    // state whose meta doesn't cover it
    def plain: DataFrame = cat.snapshotUpTo(table, asOfV)
    val zone = zoneOf(delta, keys, memo)
    // a key that is a SUBSET of the PK still pushes below the collapse
    // (any grouping-column filter does) — no prefilter needed
    val pkIsKey = keys.toSet.subsetOf(cat.spec(table).pk.toSet)
    val ranged = zone match {
      case Some(None) => plain.where(lit(false))
      case Some(Some((lo, hi))) =>
        val cond = col(keys.head).between(lit(lo), lit(hi))
        // below-collapse read bound when sound; the PK case gets it
        // from Catalyst's grouping-key pushdown on the plain snapshot
        if (immutable && !pkIsKey)
          cat.snapshotPrefiltered(table, cond, Some(asOfV))
        else plain.where(cond)
      case None => plain
    }
    val dk = delta.select(keys.map(c => col(c).as(s"__k_$c")): _*)
      .distinct()
    val cond = keys.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    ranged.join(dk, cond, "left_semi")
  }

  /** Per-key live-row counts of `table` at the OLD and NEW marks from
    * ONE bounded job — the fused form of the two per-mark
    * count-snapshot reads the null-extension rule needs (two
    * [[boundedSide]] collapses at different marks cannot share a scan;
    * this reads the log once, takes both marks' per-PK winners in one
    * struct-max pass ([[GraftCatalog.pairWinners]]), and counts both
    * sides of the zero-crossing in one aggregation). Key bounds follow
    * [[boundedSide]]'s soundness rule: below the collapse when the key
    * is a PK subset or declared immutable (zone + distinct-key
    * semi-join prune the SCAN), above it otherwise (delta-bounded
    * shuffle, honest full read). Returns one row per key value that is
    * live at either mark: (keys..., __cold, __cnew). */
  private def pairCounts(cat: GraftCatalog, table: String,
      lastV: Long, newV: Long, delta: DataFrame, keys: Seq[String],
      immutable: Boolean, memo: ZoneMemo): DataFrame = {
    val pkIsKey = keys.toSet.subsetOf(cat.spec(table).pk.toSet)
    val soundBelow = immutable || pkIsKey
    val zone = zoneOf(delta, keys, memo)
    val zoneCond: Option[Column] = zone match {
      case Some(None) => Some(lit(false))
      case Some(Some((lo, hi))) =>
        Some(col(keys.head).between(lit(lo), lit(hi)))
      case None => None
    }
    val dk = delta.select(keys.map(c => col(c).as(s"__k_$c")): _*)
      .distinct()
    val joinCond =
      keys.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    // the zone prunes the collapse SCAN below when sound (the same
    // contract as boundedSide's prefilter: a PK-subset or declared-
    // immutable key keeps all of a PK's history or none of it); the
    // winners frame itself carries only PK columns + the two winner
    // structs, so ALL key-level bounding happens above the collapse —
    // on the exploded per-mark rows, where the winner's key values
    // exist (they may differ between marks when the key is mutable)
    val winners = cat.pairWinners(table, lastV, newV, keys,
      scanFilter = if (soundBelow) zoneCond.getOrElse(lit(true))
        else lit(true))
    val tagged = Seq("_wo" -> 0, "_wn" -> 1).map { case (w, m) =>
      struct((lit(m).as("__m") +:
        keys.map(k => col(s"$w.__p_$k").as(k))) :+
        (col(w).isNotNull && !col(s"$w.__del")).as("__alive"): _*)
    }
    val ex0 = winners
      .select(explode(array(tagged: _*)).as("e"))
      .where(col("e.__alive"))
      .select(keys.map(k => col(s"e.$k")) :+ col("e.__m").as("__m"): _*)
    val ex =
      (if (soundBelow) ex0
       else zoneCond.map(ex0.where).getOrElse(ex0))
        .join(dk, joinCond, "left_semi")
    ex.groupBy(keys.map(col): _*)
      .agg(count(when(col("__m") === 0, 1)).as("__cold"),
        count(when(col("__m") === 1, 1)).as("__cnew"))
  }

  /** LEFT/FULL-outer: the ±1 synthetic NULL-extension rows of one
    * side's delta (for FULL, also applied to the FACT via a
    * fact-as-side spec — the F̂n indicator of the side-dangling
    * part) — for each key the delta touches, if the table's
    * match count crossed zero between the OLD and NEW marks, the
    * extended relation Ŝ gained (+1, last row deleted) or lost (−1,
    * first row inserted) its all-NULL-attribute row for that key.
    * The OLD/NEW count pair comes from ONE delta-key-bounded
    * [[pairCounts]] job (semi-join + zone, never a side scan — and
    * fused: the log is read and collapsed once, not once per mark),
    * so the leg stays delta-sized. Keys untouched by the delta cannot
    * cross zero; NULL keys never match any fact row under the
    * equality join, so their (harmless) rows are dropped by the inner
    * fact join. */
  private def nullExtensionDelta(cat: GraftCatalog, side: SideSpec,
      d: DataFrame, lastV: Long, newV: Long,
      memo: ZoneMemo = new ZoneMemo): DataFrame = {
    val s = cat.spec(side.table)
    val fields = s.schema.fields.toSeq
    val keys = side.keys
    val counts = pairCounts(cat, side.table, lastV, newV, d, keys,
      side.sideKeysImmutable, memo)
    val w = when(col("__cold") > 0 && col("__cnew") === 0, lit(1L))
      .when(col("__cold") === 0 && col("__cnew") > 0, lit(-1L))
    d.select(keys.map(col): _*).distinct()
      .join(counts, keys, "left")
      .withColumn("__cold", coalesce(col("__cold"), lit(0L)))
      .withColumn("__cnew", coalesce(col("__cnew"), lit(0L)))
      .withColumn("__w", w)
      .where(col("__w").isNotNull)
      .select(fields.map(f =>
        if (keys.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)) :+ col("__w"): _*)
  }

  /** Retention roll for a maintained join MV — the first-class form of
    * the recorded TTL-on-join-tables guidance. TTL on any chain table
    * REFUSES (clock-driven expiry is invisible to the fold: joined-row
    * expiry needs every side's window crossed), and the maintainable
    * spelling is an EXPLICIT window delete: expire every row of the
    * chain table holding `column` where `column < cutoff` via an
    * ordinary tombstone write — the expiry IS a logged delta — then
    * fold it incrementally ([[Materialize.refresh]]). A time-grained
    * MV retracts exactly the expired grain groups (emptied groups drop
    * from the state); no rebuild, no O(table) term beyond the delete's
    * own snapshot scan. Returns the refresh's report.
    * The SQL spelling is the equivalent `DELETE FROM t WHERE col <
    * cutoff` + `REFRESH MATERIALIZED VIEW` through [[graft.sources
    * .PhoenixSql]]. */
  def expireBefore(cat: GraftCatalog, path: String, column: String,
      cutoff: Column): RefreshReport = {
    val holder = MvMeta.read(cat.session, path).tables
      .find(t => cat.spec(t).schema.fieldNames.contains(column))
      .getOrElse(throw new IllegalArgumentException(
        s"expireBefore: no chain table of the MV at $path carries " +
          s"column '$column'"))
    cat.delete(holder, col(column) < cutoff)
    Materialize.refresh(cat, path)
  }

  /** Fold every table's writes since the last refresh into the
    * persisted joined-aggregate state `m` at `path` — the join half of
    * [[Materialize.refresh]], which reads the meta, holds the MV's
    * lock and retries on a lost block. Returns what the refresh did;
    * its `marks` hold the new `factV +: sideVs` high-water marks (== the
    * stored ones when nothing changed). */
  private[operators] def refreshChain(cat: GraftCatalog, path: String,
      m: MvMeta): RefreshReport = {
    val spark = cat.session
    val MvMeta.Join(cs, lastVF, lastVS) = m.join
    cs.tables.foreach(requireNoTtl(cat, _))
    val MvMeta(groupCols, measures, _, grains, _, sketches, topks,
      buckets, _, _) = m
    // a grain expression (date_trunc et al.) is evaluated under the
    // SESSION time zone — folding new deltas under a different tz than
    // the state's would split/merge grain groups wrongly: rebuild
    val grainTzChanged = grains.nonEmpty &&
      !m.grainTz.contains(spark.conf.get("spark.sql.session.timeZone"))
    // high-water from the O(1) version counter (see build) paired
    // with the table's replayability floor (an O(1) marker read —
    // previously a footer-pruned min-version scan PER TABLE PER
    // refresh, a real driver-latency term on deep chains): the floor
    // is the compaction/truncate detector's signal
    val marksOf: String => (Long, Long) = t =>
      (cat.currentVersion(t), cat.compactionFloor(t))
    val (newVF, floorF) = marksOf(cs.fact)
    val sideMarks = cs.sides.map(s => marksOf(s.table))
    val newVS = sideMarks.map(_._1)
    if (newVF == lastVF && newVS == lastVS)
      return RefreshReport(lastVF +: lastVS)
    // any log with history discarded past the fold point → only a
    // rebuild is correct (the rows the state summarizes can no longer
    // be retraced). A FLOORED compaction at or below the fold mark
    // keeps bounded reads exact, so it deliberately does NOT trip this
    val compacted = floorF > lastVF ||
      sideMarks.map(_._2).zip(lastVS).exists { case (fl, lv) => fl > lv }
    if (compacted || grainTzChanged)
      return Materialize.rebuild(cat, path, m, Materialize.NoDerive)

    // each delta / accumulated leg is read SEVERAL times (its zone
    // bound, its distinct-key set, the join itself, and the two-pass
    // post/retraction fold below) — cache them, they are delta-sized.
    // The try opens BEFORE the first cache() call so a failure while
    // the legs are still being BUILT (state read, schema drift, grain
    // analysis error) unpersists everything cached so far
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()
    try {
    // localCheckpoint, NOT persist: a persisted leg is a CacheManager
    // entry keyed by plan, and a concurrent INSERT into a folded
    // table's path recaches-by-path and drops the in-flight blocks
    // mid-job ("Block rdd_N does not exist" — the refresh-vs-writer
    // crash). Checkpointed legs are plain RDD blocks, invisible to
    // recache-by-path (the Dedup.scala iterative pattern); lazy, so
    // the leg pool's force count() below still does the materializing.
    def cache(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(false)
      cached.synchronized { cached += c }; c
    }
    // one zone-probe memo for the whole refresh (see ZoneMemo) — the
    // parallel leg builders below share it
    val zoneMemo = new ZoneMemo
    // factor memo: several legs request the IDENTICAL bounded factor —
    // the factLeg's star edges and legA both bound side reads by
    // dFact; a side's BFS fact edge and its dangling part's count
    // probe both bound the fact by that side's raw delta. Memoizing by
    // (table, mark, bounding-delta REFERENCE, keys, immutable) and
    // CACHING the frame collapses those into one scan+collapse each,
    // shared across every job of this refresh. computeIfAbsent (not
    // TrieMap.getOrElseUpdate): the warm-up tasks below race the legs
    // for the same keys, and the atomic compute guarantees each
    // factor's plan is built (and checkpointed) exactly once.
    // The memo holds lazily-completed promises, not values:
    // computeIfAbsent would run the mapping (a zone-probe driver job +
    // plan + checkpoint, seconds) inside the map's bin lock, so
    // UNRELATED factor keys hashing to the same bin serialized behind
    // it — putIfAbsent of a promise keeps the lock window to a map
    // insert, and only same-key callers block on the future (ADVICE
    // r16). A failed compute completes the promise exceptionally and
    // removes it, so waiters see the root cause and nothing poisons
    // the memo.
    val factorMemo = new java.util.concurrent.ConcurrentHashMap[
      (String, Long, DataFrame, Seq[String], Boolean),
      java.util.concurrent.CompletableFuture[DataFrame]]
    def boundedShared(table: String, asOfV: Long, delta: DataFrame,
        keys: Seq[String], immutable: Boolean): DataFrame = {
      val key = (table, asOfV, delta, keys, immutable)
      val fresh = new java.util.concurrent.CompletableFuture[DataFrame]()
      val prior = factorMemo.putIfAbsent(key, fresh)
      if (prior != null)
        try prior.join()
        catch { case e: java.util.concurrent.CompletionException =>
          throw e.getCause }
      else
        try {
          val df = cache(boundedSide(cat, table, asOfV, delta, keys,
            immutable, zoneMemo))
          fresh.complete(df)
          df
        } catch { case e: Throwable =>
          fresh.completeExceptionally(e)
          factorMemo.remove(key, fresh)
          throw e
        }
    }
    // invokeAll DRAINS: it returns only after every task finished,
    // even when some failed — so a failing task can never leave a
    // sibling still appending to the cache list while the caller's
    // finally iterates it (the Future.sequence form failed fast and
    // did exactly that, masking the root error with a
    // ConcurrentModificationException). The first real cause rethrows.
    // Shared by the delta-construction batch here and the leg pool
    // below.
    def inParallel[T](n: Int)(work: Int => T): Seq[T] =
      if (n <= 1) (0 until n).map(work)
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(n, 8))
        try {
          import scala.jdk.CollectionConverters._
          val tasks: Seq[java.util.concurrent.Callable[T]] =
            (0 until n).map(i =>
              new java.util.concurrent.Callable[T] {
                def call(): T = work(i)
              })
          pool.invokeAll(tasks.asJava).asScala.toSeq.map { f =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
            }
          }
        } finally pool.shutdown()
      }
    // telescoping legs over the consistent (last, new] window: Δfact
    // against every side OLD; per side i, fact NEW ⋈ sides<i NEW ⋈
    // Δside_i ⋈ sides>i OLD — every delta bounded at its table's
    // sampled mark and every non-delta factor read AS OF its mark
    // (OLD = the last fold's, NEW = this fold's), so the cross terms
    // tile the state transition exactly however writers interleave.
    val imm = declaredImmutable(cat, cs)
    // LEFT (and the left part of FULL) chains join side factors with
    // "left" (the extended-Ŝ inner join IS the left join against the
    // raw side) and each side's delta gains its ±1 null-extension
    // rows; the fact factor stays INNER in the side legs either way
    // (a side change only touches fact rows carrying its keys)
    val extended = cs.leftOuter || cs.fullOuter
    val sideJt = if (extended) "left" else "inner"
    // WHERE-filtered chain: the fact predicate applies to SIGNED row
    // values — a post row failing it was never counted, a pre-image
    // failing it never needs retracting — and to every fact FACTOR
    // read below (the factFiltered wraps at the BFS fact edges).
    // ONE pool task per table: each delta's cache() plans eagerly
    // (localCheckpoint) and each declared-immutable contract sweep
    // (lag pre-images cross the window boundary, so a mutation of a
    // declared-immutable key is caught at the first fold that could
    // read it wrong) runs a bounded driver job — all independent, so
    // the per-table planning/driver latency overlaps instead of
    // serializing before the leg pool.
    val (dFact, sideDeltas) = {
      val all = inParallel(1 + cs.sides.size) { i =>
        if (i == 0) {
          imm.get(cs.fact).foreach(ks =>
            requireImmutable(cat, cs.fact, ks, lastVF, newVF))
          cache(factFiltered(cs,
            signedDelta(cat, cs.fact, lastVF, newVF)))
        } else {
          val j = i - 1
          imm.get(cs.sides(j).table).foreach(ks =>
            requireImmutable(cat, cs.sides(j).table, ks,
              lastVS(j), newVS(j)))
          cache(signedDelta(cat, cs.sides(j).table, lastVS(j),
            newVS(j)))
        }
      }
      (all.head, all.tail.toIndexedSeq)
    }
    // parents resolved once, up front — the factLeg bound below and
    // the BFS both need the tree
    val parents = parentsOf(cat, cs)
    def buildFactLeg(): DataFrame = cs.sides.zipWithIndex
      .foldLeft(dFact) {
        case (acc, (s, j)) =>
          // STAR edges (side j keyed on the fact): every fact row in
          // acc came from dFact, so dFact's key set is a sound
          // SUPERSET bound for the factor (the join itself restricts
          // to acc's keys) — and its zone probe is memoized once per
          // key, instead of one fresh accumulated-leg probe per edge.
          // Snowflake edges key on an earlier side's columns, which
          // dFact does not carry — they keep the acc bound.
          val bound = if (parents(j) == -1) dFact else acc
          cache(acc.join(boundedShared(s.table, lastVS(j),
            bound, s.keys, s.sideKeysImmutable), s.keys,
            sideJt))
      }
    // per-side legs walk OUTWARD from the delta along the join tree
    // (parents resolved once): each crossed edge joins one more table,
    // key-bounded by what the accumulated leg already holds — which is
    // what keeps an INTERMEDIATE snowflake side's churn delta-sized.
    // Telescoping versions stay indexed by declaration order: node
    // j < i reads NEW (this refresh's mark), j > i reads OLD, the fact
    // reads NEW in every side leg.
    // LEG-PARALLEL construction: each leg is independent of the others
    // (cached deltas + version-bounded factor reads, no shared mutable
    // state beyond the synchronized cache list and the probe memo),
    // but BUILDING one runs its serial zone-probe driver jobs — a
    // depth-4 chain pays ~25 of them, a 10+-second fixed floor when
    // sequential. ONE pool builds everything concurrently — the fact
    // leg, every side leg, and (FULL chains) each side's two dangling
    // legs ride the same pool task as their side, so the dangling
    // parts' probes overlap the chain legs' instead of serializing
    // after them. Spark schedules concurrent actions fine on local[n]
    // and on a cluster; the pool cuts the per-refresh floor roughly by
    // the leg count without touching the algebra.
    def buildSideLeg(i: Int): DataFrame = {
      val si = cs.sides(i)
      val dReal = sideDeltas(i)
      var acc =
        if (!extended) dReal
        else cache(dReal.unionByName(
          nullExtensionDelta(cat, si, dReal, lastVS(i), newVS(i),
            zoneMemo)))
      val visited = scala.collection.mutable.Set[Int](i)
      val remaining = scala.collection.mutable.Set[Int](
        (-1 +: cs.sides.indices.filterNot(_ == i)): _*)
      while (remaining.nonEmpty) {
        // next tree edge with one endpoint visited: DOWN to a side
        // whose parent is in the leg, or UP to a visited side's parent
        val (node, viaChild) =
          cs.sides.indices
            .find(j => remaining.contains(j) && visited.contains(parents(j)))
            .map(j => (j, j))
            .orElse(cs.sides.indices
              .find(j => visited.contains(j) && remaining.contains(parents(j)))
              .map(j => (parents(j), j)))
            .getOrElse(throw new IllegalStateException(
              s"disconnected join tree: visited $visited, " +
                s"remaining $remaining"))
        val edgeKeys = cs.sides(viaChild).keys
        val (table, asOfV, immKeys) =
          if (node == -1)
            (cs.fact, newVF, cs.sides(viaChild).factKeysImmutable)
          else if (node == viaChild)
            (cs.sides(node).table,
              if (node < i) newVS(node) else lastVS(node),
              cs.sides(node).sideKeysImmutable)
          else // UP into a snowflake parent side via the child's keys
            (cs.sides(node).table,
              if (node < i) newVS(node) else lastVS(node),
              cs.sides(viaChild).factKeysImmutable)
        // LEFT/FULL chains (star-shaped by validation) join side
        // factors with "left"; the move UP to the fact stays INNER
        val jt = if (extended && node == viaChild) "left"
          else "inner"
        // first edge out of the delta: acc is dReal (or, extended,
        // dReal plus its synthetic null-extension rows, whose key set
        // equals dReal's) — bounding by the RAW delta reuses the
        // memoized pairCounts zone probe instead of probing the
        // unioned frame
        val bound = if (visited.size == 1) dReal else acc
        val factor0 = boundedShared(table, asOfV, bound,
          edgeKeys, immKeys)
        val factor =
          if (node == -1) factFiltered(cs, factor0) else factor0
        acc = cache(acc.join(factor, edgeKeys, jt))
        visited += node; remaining -= node
      }
      acc
    }
    // FULL OUTER only — the side-dangling part D = S ▷ F × NULL_F,
    // two more telescoping legs over the FACT's null-extension
    // indicator F̂n (a NULL-fact row per key the fact does NOT hold):
    //   ΔD = ΔF̂n ⋈ S_old  ∪  F̂n_new ⋈ ΔS
    // Leg A's ΔF̂n is the fact-count zero-crossing set (ONE fused
    // delta-key-bounded OLD/NEW count job, see pairCounts); leg B
    // keeps the signed side-delta rows whose key finds NO fact match
    // at the new mark — a NULL side key never matches (null-unsafe
    // using-join), so permanently-dangling rows ride leg B too. Both
    // legs emit joined-schema rows (fact fields NULL except the shared
    // keys) and fold through the same signed union as every other leg.
    // Star shape (validated): the sequential full join decomposes as
    // the LEFT part plus ONE INDEPENDENT side-dangling part per side —
    // a side-i-dangling row carries side i's attributes, its keys, and
    // NULL for every fact field and every OTHER side's field (a NULL
    // fact key never matches the other sides).
    def fullLegTasksFor(i: Int): Seq[() => DataFrame] = {
      val factFields = cat.spec(cs.fact).schema.fields.toSeq
      val si = cs.sides(i)
      val otherNulls = cs.sides.indices.filterNot(_ == i).flatMap {
        j =>
          cat.spec(cs.sides(j).table).schema.fields.toSeq
            .filterNot(f => cs.sides(j).keys.contains(f.name))
            .map(f => lit(null).cast(f.dataType).as(f.name))
      }
      val factAsSide = SideSpec(cs.fact, si.keys,
        sideKeysImmutable = si.factKeysImmutable)
      val legA = () => {
        val aNull = cache(nullExtensionDelta(cat, factAsSide, dFact,
          lastVF, newVF, zoneMemo))
        // aNull's keys come from dFact (the zero-crossing set is built
        // from the fact delta's keys), so dFact is a sound superset
        // bound whose zone probe pairCounts already memoized
        cache(aNull.join(boundedShared(si.table,
            lastVS(i), dFact, si.keys, si.sideKeysImmutable),
            si.keys)
          .select(col("*") +: otherNulls: _*))
      }
      val legB = () => {
        val dS = sideDeltas(i)
        val cntF = boundedShared(cs.fact, newVF, dS, si.keys,
            si.factKeysImmutable)
          .groupBy(si.keys.map(col): _*).agg(count(lit(1)).as("__cf"))
        cache(dS.join(cntF, si.keys, "left")
          .where(coalesce(col("__cf"), lit(0L)) === 0)
          .drop("__cf")
          .select(factFields.filterNot(f => si.keys.contains(f.name))
            .map(f => lit(null).cast(f.dataType).as(f.name)) ++
            dS.columns.map(col) ++ otherNulls: _*))
      }
      Seq(legA, legB)
    }
    // one pool task per LEG — the fact leg, each side's chain leg,
    // and (FULL chains) each side's two dangling legs each get their
    // own task, so a side's dangling parts overlap its chain leg
    // instead of serializing after it inside one task. Each leg task
    // FORCES its cached leg (count() materializes the checkpoint)
    // before returning: leg computation then overlaps across the pool
    // threads, and the merge fold below reads cached blocks only —
    // without the force, every un-probed leg's first computation lands
    // inside the single fold job, serial behind one scheduler.
    // WARM-UP tasks (None-returning) additionally pre-plan the fact
    // leg's star-edge factors: buildFactLeg folds its joins
    // sequentially, so without them each factor's zone probe +
    // plan + checkpoint serialized inside that one task — the factors
    // are dFact-bounded and independent, and computeIfAbsent hands the
    // fact leg the already-built frame.
    val warmTasks: Seq[() => Option[DataFrame]] =
      cs.sides.zipWithIndex.collect {
        case (s, j) if parents(j) == -1 => () => {
          boundedShared(s.table, lastVS(j), dFact, s.keys,
            s.sideKeysImmutable)
          None
        }
      }
    // warm-ups ride directly behind the fact leg: appended LAST they
    // missed the capped pool (min(n, 8)) on wide chains — exactly the
    // case they exist for — and the fact leg serialized through its
    // star factors anyway (ADVICE r16)
    val legTasks: Seq[() => Option[DataFrame]] =
      (((() => Some(buildFactLeg())): () => Option[DataFrame]) +:
        warmTasks) ++
        (cs.sides.indices.map(i =>
          (() => Some(buildSideLeg(i))): () => Option[DataFrame]) ++
          (if (cs.fullOuter)
            cs.sides.indices.flatMap(fullLegTasksFor).map(t =>
              (() => Some(t())): () => Option[DataFrame])
          else Nil))
    val legs = inParallel(legTasks.size) { i =>
      val built = legTasks(i)()
      built.foreach(l => Materialize.planDump(s"join_leg_$i", l))
      built.foreach(_.count())
      built
    }.flatten
    // grain columns derive per JOINED row (fact/side columns are in
    // every leg), so one withGrains over the unioned delta covers
    // post rows and retraction pre-images alike
    val delta = Materialize.withGrains(
      legs.reduce(_.unionByName(_, allowMissingColumns = false)),
      grains)
    val nd = s"state_v${newVF}_${newVS.mkString("_")}"
    val (folded, report) = Materialize.foldAndWrite(spark, path, m,
      "join", delta, nd, (affected, affRows) => recomputeJoined(cat, cs,
        newVF, newVS, groupCols, measures, affected, affRows, sketches,
        topks, grains))
    MvMeta.write(spark, path, folded.copy(grainTz = None,
      kind = MvMeta.Join(cs, newVF, newVS)))
    report.copy(marks = newVF +: newVS)
    } finally {
      // snapshot under the append lock — the pool drains before the
      // try exits, but the discipline costs nothing and survives a
      // future caller that doesn't
      cached.synchronized(cached.toList).foreach(Materialize.freeLocal)
    }
  }

  /** Affected-group recompute over the joined snapshots AS OF the
    * refresh's sampled marks (the state the fold is transitioning TO —
    * a current-snapshot read here would leak a mid-refresh write into
    * groups the recorded marks don't cover), bounded to the gated-in
    * groups: an IN prefilter on each plain group column reaches its
    * owning table's scan (below the joins), and the affected semi-join
    * caps the aggregate itself — delta-group-sized work against the
    * join, never the full γ. Returns the plan and the tables whose
    * reads carry the below-join pushdown. */
  private def recomputeJoined(cat: GraftCatalog, cs: ChainSpec,
      vF: Long, vS: Seq[Long],
      groupCols: Seq[String], measures: Seq[String],
      affected: DataFrame,
      affRows: Option[Seq[org.apache.spark.sql.Row]],
      sketches: Seq[(String, Int)] = Seq.empty,
      topks: Seq[(String, Int)] = Seq.empty,
      grains: Seq[(String, String)] = Seq.empty)
      : (DataFrame, Seq[String]) = {
    val affCond = groupCols.map(c => col(c) <=> col(s"__a_$c"))
      .reduce(_ && _)
    val grainNames = grains.map(_._1).toSet
    val plainCols = groupCols.filterNot(grainNames.contains)
    // per-column affected VALUES (null flag tracked separately) — the
    // post-join prefilter and the per-table pushdown both derive from
    // these
    val colVals: Map[String, (Seq[Any], Boolean)] = affRows match {
      case Some(rows) if plainCols.nonEmpty =>
        plainCols.map { c =>
          val vs = rows.map(_.get(groupCols.indexOf(c))).distinct
          c -> (vs.filterNot(_ == null), vs.contains(null))
        }.toMap
      case _ => Map.empty
    }
    def colFilter(c: String): Column = {
      val (nonNull, hasNull) = colVals(c)
      val base: Column =
        if (nonNull.isEmpty) lit(false)
        else col(c).isInCollection(nonNull)
      if (hasNull) base || col(c).isNull else base
    }
    // IN-prefilter only over PLAIN group columns — grain columns do
    // not exist below withGrains; the affected semi-join (over ALL
    // group columns, after grains derive) carries exactness
    val prefilter: Column =
      if (colVals.isEmpty) lit(true)
      else plainCols.map(colFilter).reduce(_ && _)
    // Per-TABLE pushdown BELOW the joins. Catalyst pushes the
    // post-join prefilter through INNER joins on its own, but a
    // FULL/LEFT join blocks it — so without this the extended-chain
    // recompute joins the FULL snapshots and filters after, an
    // O(table × table) term at exactly the moment the gate fires.
    // Soundness: filtering table T on its own group attributes only
    // (a) drops T rows whose attribute values are not affected — every
    // joined row through them carries those values, so their groups
    // are never affected; and (b) re-labels T's dropped-row join
    // partners into groups that are NULL on ALL of T's attributes
    // (outer joins NULL-extend them; under INNER they just vanish).
    // (b) is the hazard: it is sound iff some attribute of T has no
    // NULL among the affected values (then every re-labeled group is
    // unaffected and the semi-join drops it). Join-key group columns
    // are excluded — the joined key is COALESCEd across tables, so a
    // per-table filter on it is not a filter on the output value.
    val allKeys = cs.sides.flatMap(_.keys).toSet
    val pushes: Map[String, Column] =
      if (colVals.isEmpty) Map.empty
      else cs.tables.flatMap { t =>
        val fieldsT = cat.spec(t).schema.fieldNames.toSet
        val attrs = plainCols.filter(c =>
          fieldsT.contains(c) && !allKeys.contains(c))
        val extended = cs.leftOuter || cs.fullOuter
        val sound = attrs.nonEmpty &&
          (!extended || attrs.exists(c => !colVals(c)._2))
        if (sound) Some(t -> attrs.map(colFilter).reduce(_ && _))
        else None
      }.toMap
    val tablePush: String => Column =
      t => pushes.getOrElse(t, lit(true))
    (Materialize.aggregate(
      Materialize.withGrains(
          joinedSnapshotAt(cat, cs, vF, vS, tablePush).where(prefilter),
          grains)
        .join(affected, affCond, "left_semi"),
      groupCols, measures, sketches, topks), pushes.keys.toSeq.sorted)
  }
}
