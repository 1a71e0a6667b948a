"""Cross-document entity linking: REFERS_TO (J2) and CALLS (J3) joins.

The Spark re-derivation of the reference's whole-graph passes:

* ``VariableUsageResolver.java:86-116`` (reference → declaration): here a
  left-join cascade of unresolved ``ref`` mentions against the global symbol
  table — module-qualified match first, then simple-name match, then (for
  member refs with a known base record) field match.
* ``CallResolver.java:63-1897`` (call → function): name join + arity
  predicate; member calls additionally constrained by the base record;
  misses produce *inferred* FunctionDeclarations with deterministic
  content-hash ids (``CallResolver.java:1078-1087`` infers on miss; our ids
  are ``inferred_id(kind, name, arity)`` so re-runs and resumes converge,
  SURVEY.md §7.3).
* interprocedural DFG: argument → parameter, positionally zipped
  (``Util.java:321-342``) and invoked-function → call-site
  (``CallExpression.java:142-157``) — pure array ops after the join.

All joins go through :func:`cpg_spark.operators.joins.linking_join`
(broadcast for small dims, salted for skew — reported in the returned
stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cpg_spark.operators.joins import BROADCAST_MAX_ROWS, linking_join

# implicit-conversion groups (CallResolver.java:847-907 subset), mirrored
# from the frontend-local ladder (cfamily_frontend._NUM_TYPES) so local
# and cross-document resolution agree
_NUM_TYPES = ("int", "long", "short", "char", "float", "double", "bool",
              "boolean", "byte", "unsigned", "size_t", "long long")
_STR_TYPES = ("string", "String", "char*", "char[]", "str")


def _canon_sig_type(col):
    """Signature-position canonicalization: top-level cv-qualifiers and
    references do not participate in overload viability (the reference
    compares TypeParser names with qualifiers held out of the signature —
    CallResolverTest matches ``const char*`` params against ``char*``)."""
    return F.regexp_replace(F.regexp_replace(col, "^const ", ""), "&$", "")

# Spark-side twin of cpg_spark.ids.inferred_id: sha2 over the identical
# 5-field key string, so link-inferred and frontend-inferred ids for the
# same logical symbol are equal and collapse at materialize.  The first 8
# digest bytes become a signed int64 the ANSI-safe way: two 32-bit halves
# via conv() (conv of 16 hex chars returns an unsigned decimal string that
# can overflow a bigint cast), recombined with an explicit sign fold —
# exactly int.from_bytes(digest[:8], "big", signed=True) on the Python side.


def _inferred_id_col(kind: str, name_col, sig_col, container_col=None):
    if container_col is None:
        container_col = F.lit("")
    key = F.concat_ws("\x1f", F.lit("inferred"), F.lit(kind),
                      F.coalesce(name_col, F.lit("")),
                      F.coalesce(sig_col.cast("string"), F.lit("")),
                      F.coalesce(container_col, F.lit("")))
    h = F.sha2(key, 256)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return (
        (hi - F.when(hi >= F.lit(2**31), F.lit(2**32)).otherwise(F.lit(0)))
        * F.lit(2**32) + lo
    )


def _inferred_fn_nodes(df: DataFrame, node_id, name, arity) -> DataFrame:
    """Node rows for FunctionDeclarations no document declares: inferred
    from a call or function reference by name and arity, with no
    document or location.  Rows repeat per inferring mention; every
    field derives from the id, so :func:`link_combined` deduplicates
    them once over all branches."""
    return df.select(
        node_id.alias("node_id"),
        F.lit("FunctionDeclaration").alias("label"),
        name.alias("name"),
        F.lit(None).cast("string").alias("code"),
        F.lit(None).cast("string").alias("doc_id"),
        F.lit(None).cast("int").alias("span_offset"),
        F.lit(None).cast(
            "struct<start_line:int,start_col:int,end_line:int,end_col:int>"
        ).alias("loc"),
        F.lit(True).alias("is_inferred"),
        F.lit(False).alias("is_implicit"),
        F.lit(None).cast("int").alias("argument_index"),
        F.create_map(F.lit("arity"), arity.cast("string")).alias("props"),
    )


def _pick_winner(joined: DataFrame, order_cols: list) -> DataFrame:
    """Deterministic candidate selection: the reference keeps the innermost /
    best-matching declaration (ScopeManager.kt:675-677 'local first'); across
    documents we rank by (same module, then stable fqn) — W3 in SURVEY.md.

    Shape: ``min_by`` aggregation, NOT a row_number window.  A window must
    shuffle EVERY candidate row to its mention's reducer and sort there; the
    groupBy gets map-side partial aggregation, so at most one candidate per
    mention survives each map partition — at corpus scale the shuffle volume
    drops from O(candidates) to O(mentions).  Spark's struct ordering is
    field-by-field with nulls first, identical to the window's default
    ascending null ordering, and the trailing d_decl_id in every caller's
    order_cols means tied keys only occur for duplicate candidate rows (same
    decl reached via two visibility arms) whose payloads are identical — so
    the winner is bit-identical to the old window formulation."""
    ord_key = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(*[F.col(c) for c in joined.columns])
    return (
        joined.groupBy("mention_id")
        .agg(F.min_by(payload, ord_key).alias("_w"))
        .select("_w.*")
    )


def _same_module(scope_col, module_col):
    """Segment-exact module containment: scope 'mod1.fn' is inside module
    'mod1' but 'mod149.fn' is NOT — a raw ``startswith`` leaks string
    prefixes ('mod1' ⊂ 'mod149', 'util' ⊂ 'utils') and can both admit
    foreign candidates and mis-rank an imported declaration above the
    true local one.  Literal comparison, not LIKE ('_'/'%' are wildcards
    under LIKE); null module → false, never null."""
    return (module_col.isNotNull()
            & ((scope_col == module_col)
               | scope_col.startswith(F.concat(module_col, F.lit(".")))))


def _with_ancestry(joined: DataFrame, closure: DataFrame | None) -> DataFrame:
    """``joined`` plus ``_anc_depth``: the minimal supertype distance
    from the mention's ``base_type`` up to the candidate's ``d_record``,
    null when that record is no ancestor.  ``closure`` is the record
    supertype closure (records with ancestry only, so broadcast), or
    None when the corpus has none: then every depth is null and no join
    is planned."""
    if closure is None:
        return joined.withColumn("_anc_depth", F.lit(None).cast("int"))
    anc = closure.select(F.col("descendant").alias("_anc_child"),
                         F.col("ancestor").alias("_anc_parent"),
                         F.col("depth").alias("_anc_depth"))
    return joined.join(
        F.broadcast(anc),
        (F.col("base_type") == F.col("_anc_child"))
        & (F.col("d_record") == F.col("_anc_parent")),
        "left_outer",
    ).drop("_anc_child", "_anc_parent")


def _imports_dim(mentions: DataFrame) -> DataFrame:
    """(doc_id, imp_module) pairs from import mentions — the visibility
    gate for cross-document linking.  The reference resolves across files
    only through imports (ImportResolver.java:62-120) or within the same
    module/package; bare-name joins across unrelated modules would
    fabricate edges the reference never emits."""
    return (
        mentions.filter(F.col("kind") == "import")
        # renamed columns break the shared lineage with the mention side —
        # without this Spark resolves the join condition to a self-equality
        .select(F.col("doc_id").alias("imp_doc_id"),
                F.col("base_type").alias("imp_module"))
        .filter(F.col("imp_module").isNotNull())
        .distinct()
    )


def symbol_dim(symbols: DataFrame) -> DataFrame:
    """The ONE symbol dimension both linking joins share: every
    resolvable kind, all signature columns.  Both joins must reference
    the same frame so the physical plan reuses a single broadcast
    exchange instead of building two driver-side hash relations."""
    return symbols.filter(
        F.col("kind").isin("function", "method", "var", "record", "field")
    ).select(
        F.col("decl_id").alias("d_decl_id"),
        F.col("name").alias("d_name"),
        F.col("kind").alias("d_kind"),
        F.col("record").alias("d_record"),
        F.col("module").alias("d_module"),
        F.col("fqn").alias("d_fqn"),
        F.col("n_params").alias("d_n_params"),
        F.col("param_ids").alias("d_param_ids"),
        F.col("n_defaults").alias("d_n_defaults"),
        F.col("param_types").alias("d_param_types"),
        F.col("is_variadic").alias("d_is_variadic"),
    )


_FNPTR_MAX_HOPS = 4
_FNPTR_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("mention_id", T.LongType()),
    T.StructField("fn_id", T.LongType()),
    T.StructField("t_name", T.StringType()),
    T.StructField("t_nargs", T.IntegerType()),
])


def _function_pointer_targets(missed: DataFrame, nodes: DataFrame,
                              edges: DataFrame,
                              mentions: DataFrame) -> DataFrame:
    """Resolve calls through function-valued variables by walking the DFG
    backward (CallResolver.java:1402-1434 ``handleFunctionPointerCall``):
    an unresolved call ``f(...)`` whose name matches a same-document
    variable/field follows that variable's inbound DFG chain (assignment
    -> reference -> declaration) up to a Function/MethodDeclaration.

    The seed set is only the *missed* mentions (tiny after the name
    join); the frontier stops at function nodes (walking past a function
    would follow its return-value edges).  Returns ONE materialized frame
    of (kind, doc_id, mention_id, fn_id, t_name, t_nargs) rows, where
    ``doc_id`` is the calling mention's document: ``kind="hit"`` rows
    carry (mention_id, fn_id) — ALL functions reachable, matching the
    reference's multi-invokes for conditionally-assigned pointers;
    ``kind="term"`` rows carry (mention_id, t_name, t_nargs) where the
    chain ended at an UNRESOLVED signature-hinted function reference
    (``&fun`` with no local declaration — FunctionPointerTest's inferred
    leg), for the caller to resolve cross-document or infer.

    Spark shape (round-4 rewrite): frontend DFG is doc-local at link
    time, so the chain can never leave its document — the walk is a
    PER-DOCUMENT kernel, not a distributed BFS.  The previous
    per-round join + eager-checkpoint + probe loop cost ~2 fixed-latency
    jobs per hop regardless of data volume (measured: 14.8 s of the
    link stage's 19 s at 96k docs, parallelism-independent — the whole
    reason the link stage didn't scale 8->32).  Now ONE shuffle
    colocates each seed document's (seed, dfg, fn, hint) rows and an
    ``applyInArrow`` BFS walks every chain in-memory; the non-seed
    corpus never shuffles (left-semi on seed docs, as before)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    vars_ = nodes.filter(
        F.col("label").isin("VariableDeclaration",
                            "ParamVariableDeclaration", "FieldDeclaration")
    ).select("doc_id", "name", F.col("node_id").alias("cur"))
    seeds = (
        missed.select("mention_id", "name", "doc_id")
        .join(vars_, ["doc_id", "name"])
        .select("mention_id", "cur", "doc_id")
    )
    seed_docs = seeds.select("doc_id").distinct()
    dfg_rev = (
        edges.filter(F.col("pred") == "DFG")
        .join(seed_docs, "doc_id", "left_semi")
        .select("doc_id", F.col("obj").alias("cur"),
                F.col("subj").alias("prev"))
    )
    fn_ids = (
        nodes.filter(F.col("label").isin("FunctionDeclaration",
                                         "MethodDeclaration"))
        .join(seed_docs, "doc_id", "left_semi")
        .select("doc_id", F.col("node_id").alias("cur"))
    )
    parts = [
        seeds.select("doc_id", F.lit("seed").alias("rk"),
                     F.col("mention_id").alias("a"), F.col("cur").alias("b"),
                     F.lit(None).cast("string").alias("s"),
                     F.lit(None).cast("int").alias("n")),
        dfg_rev.select("doc_id", F.lit("dfg").alias("rk"),
                       F.col("cur").alias("a"), F.col("prev").alias("b"),
                       F.lit(None).cast("string").alias("s"),
                       F.lit(None).cast("int").alias("n")),
        fn_ids.select("doc_id", F.lit("fn").alias("rk"),
                      F.col("cur").alias("a"),
                      F.lit(None).cast("long").alias("b"),
                      F.lit(None).cast("string").alias("s"),
                      F.lit(None).cast("int").alias("n")),
        # signature-hinted refs (``&fun``): where a chain may end unresolved
        mentions.filter(F.col("kind").isin("ref", "member_ref")
                        & F.col("n_args").isNotNull())
        .join(seed_docs, "doc_id", "left_semi")
        .select("doc_id", F.lit("hint").alias("rk"),
                F.col("mention_id").alias("a"),
                F.lit(None).cast("long").alias("b"),
                F.col("name").alias("s"),
                F.col("n_args").cast("int").alias("n")),
    ]
    stream = parts[0]
    for p in parts[1:]:
        stream = stream.unionByName(p)
    arrow_schema = to_arrow_schema(_FNPTR_SCHEMA)

    def walk(tbl):
        doc = tbl.column("doc_id")[0].as_py()
        dfg: dict = {}
        fns: set = set()
        hints: dict = {}
        seeds = []
        for rk, a, b, s_, n_ in zip(*(tbl.column(c).to_pylist()
                                      for c in ("rk", "a", "b", "s", "n"))):
            if rk == "dfg":
                dfg.setdefault(a, []).append(b)
            elif rk == "fn":
                fns.add(a)
            elif rk == "hint":
                hints[a] = (s_, n_)
            else:
                seeds.append((a, b))
        out = []
        seen_hit = set()
        seen_term = set()
        for mid, cur in seeds:
            frontier = {cur}
            visited = {cur}
            for _ in range(_FNPTR_MAX_HOPS):
                step = set()
                for c in frontier:
                    for p in dfg.get(c, ()):
                        if p not in visited:
                            visited.add(p)
                            step.add(p)
                if not step:
                    break
                nxt = set()
                for p in step:
                    if p in fns:
                        if (mid, p) not in seen_hit:
                            seen_hit.add((mid, p))
                            out.append({"kind": "hit", "doc_id": doc,
                                        "mention_id": mid, "fn_id": p})
                        continue  # stop at function nodes
                    if p in hints:
                        s_, n_ = hints[p]
                        key = (mid, s_, n_)
                        if key not in seen_term:
                            seen_term.add(key)
                            out.append({"kind": "term", "doc_id": doc,
                                        "mention_id": mid, "t_name": s_,
                                        "t_nargs": n_})
                    nxt.add(p)
                frontier = nxt
        return pa.Table.from_pylist(out, schema=arrow_schema)

    # EAGER, once: the walk has up to five consumers (the row-kind
    # probe, CALLS, the terminal join, two miss anti-joins), and Spark
    # reuses no exchange above a localCheckpoint scan (``missed``), so a
    # lazy walk would re-run its Python stage per consumer.  Output is
    # at most one row per (seed, target).
    return stream.groupBy("doc_id").applyInArrow(
        walk, schema=_FNPTR_SCHEMA).localCheckpoint(eager=True)


def joined_mentions(mentions: DataFrame, dim: DataFrame,
                    strategy: str) -> DataFrame:
    """ONE linking join covering every resolvable mention kind (calls,
    member calls, refs, member refs, imports) — with the visibility rule
    encoded IN THE JOIN KEY, not as a post-join filter.

    A bare name join blows up quadratically in corpus size: every
    ``run`` mention matches every ``run`` declaration of every document
    (measured 49.8M intermediate rows for 70k mentions at 24k docs —
    ~707 candidates per mention, 40x more than survive the visibility
    gate).  Since the reference only resolves across files through
    imports or within the same module (ImportResolver.java:62-120), the
    candidate set is exactly:

    * arm A/B — the mention's *visible modules* (segment prefixes of its
      scope path + the document's imports) as an exploded join column:
      equi-join on ``(name, module)``.  Visible modules per mention are
      O(scope depth + imports per doc), so the exploded fact side stays
      linear in corpus size, and the composite key also erases most of
      the classic hot-name skew (``print``/``main`` split per module).
    * arm C — member calls with an UNKNOWN base keep name-only matching
      against method declarations (CallResolver.java:1089-1127 resolves
      those against all records).
    * arm D — import mentions match symbols of their named source module
      (``base_type``) via equi-join; only base-less imports fall back to
      name-only.

    Segment-prefix matching is deliberately stricter than the previous
    ``startswith`` gate: module ``mod1`` no longer leaks into
    ``mod149``'s scope (a raw-prefix false positive).

    The single shared join also keeps the serial cost down: one
    broadcast hash relation (or salted dim explode) instead of one per
    mention kind — column pruning would make per-kind broadcast subtrees
    non-identical, so Catalyst could not reuse the exchange.  ``dim`` is
    :func:`symbol_dim`; ``strategy`` is ``"broadcast"`` or ``"salted"``.
    Returns the persisted candidate frame."""
    facts = mentions.filter(F.col("kind").isin(
        "call", "member_call", "super_call", "ref", "member_ref",
        "import")).select(
        "mention_id", "kind", "name", "base_type", "scope_path", "doc_id",
        "n_args", "n_kwargs", "arg_ids", "arg_types")
    if strategy == "salted":
        # measure which names are actually hot BEFORE salting: only those
        # keys get the × buckets dim explosion; the long tail joins
        # unexploded (hot_fact_keys docstring has the numbers).  One
        # map-side-combined agg over the pre-explode fact side — the
        # explode multiplies every name's count by roughly the same
        # scope-depth factor, so pre-explode counts rank identically.
        from cpg_spark.operators.joins import hot_fact_keys

        parts = int(mentions.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        hot_keys = hot_fact_keys(facts, "name", parts)
    else:
        hot_keys = None

    buckets = 16  # salted strategy: reducers each hot name spreads over
    non_import = facts.filter(F.col("kind") != "import")
    segs = F.split(F.col("scope_path"), r"\.")
    prefixes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(segs), F.lit(1))),
        lambda i: F.array_join(F.slice(segs, 1, i), "."),
    )
    # (doc_id, imported module) pairs: joined on doc_id WITHOUT a
    # broadcast hint — the import dim grows with the corpus (unlike the
    # record dim), so at scale this must stay a co-partitioned shuffle
    # join; AQE promotes it to broadcast when it is actually small
    imports = _imports_dim(mentions)
    via_prefix = non_import.withColumn("_vis", F.explode(prefixes))
    via_import = (
        non_import.join(imports,
                        non_import["doc_id"] == imports["imp_doc_id"])
        .drop("imp_doc_id")
        .withColumnRenamed("imp_module", "_vis")
    )
    # explicitly-qualified mentions (C++ ``A::func1``, Go ``util.Helper``)
    # reach their base's module DIRECTLY — qualified lookup is global in
    # the reference (ScopeManager.lookupScope by FQN after mergeFrom), no
    # import required; one extra row per qualified mention keeps the
    # explode linear
    via_qual = (non_import.filter(F.col("base_type").isNotNull())
                .withColumn("_vis", F.col("base_type")))
    # a module that is both a scope prefix and imported yields duplicate
    # candidate rows; every consumer runs _pick_winner per mention, so
    # duplicates are harmless and not worth a dedup shuffle
    fx = via_prefix.unionByName(via_import).unionByName(via_qual)
    arm_ab = linking_join(
        fx, dim, key_pairs=[("name", "d_name"), ("_vis", "d_module")],
        salt_src="mention_id", strategy=strategy, buckets=buckets,
        hot_keys=hot_keys,
    )
    arm_ab = arm_ab.drop("_vis")
    # the two residual name-only arms go through the SAME
    # broadcast/salted strategy machinery (a bare .join(dim, ...) here
    # planned as a sort-merge join that shuffled + sorted the full dim
    # once per arm — measured as a 2x compute-tier regression at 192k
    # docs); their extra predicates are post-filters so the three arms
    # share ONE single-key dim subtree (one broadcast build, reused)
    # unknown-base member calls: name-only against the method slice
    arm_c_facts = facts.filter(
        (F.col("kind") == "member_call") & F.col("base_type").isNull())
    arm_c = linking_join(
        arm_c_facts, dim, key_pairs=[("name", "d_name")],
        salt_src="mention_id", strategy=strategy, buckets=buckets,
        hot_keys=hot_keys)
    arm_c = arm_c.filter(F.col("d_kind") == "method")
    # imports: (name, source module); base-less imports name-only
    arm_d_facts = facts.filter(F.col("kind") == "import")
    arm_d = linking_join(
        arm_d_facts, dim, key_pairs=[("name", "d_name")],
        salt_src="mention_id", strategy=strategy, buckets=buckets,
        hot_keys=hot_keys)
    arm_d = arm_d.filter(
        F.col("base_type").isNull()
        | (F.col("base_type") == F.col("d_module")))

    return arm_ab.unionByName(arm_c).unionByName(arm_d).persist()


def link_calls(mentions: DataFrame, joined: DataFrame, dim: DataFrame,
               closure: DataFrame, nodes: DataFrame, edges: DataFrame):
    """Resolve ``call`` and ``member_call`` mentions from the shared
    candidate frame ``joined`` (:func:`joined_mentions` over ``dim``).

    ``closure`` is the record supertype closure
    (descendant, ancestor, depth) from
    :func:`cpg_spark.operators.hierarchy.supertype_record_closure`, or
    None when the corpus has no resolvable supertype: member calls whose
    base record does not declare the method resolve against ancestor
    records' methods, nearest ancestor first — the reference's
    ``getInvocationCandidatesFromParents`` walk
    (CallResolver.java:1707-1739) with overriding-candidate ranking
    (:1089-1127).  ``nodes``/``edges`` feed the function-pointer walk.

    Returns (edges, inferred_nodes, fnptr_kinds): ``fnptr_kinds`` are the
    sorted row kinds the function-pointer walk produced, which decide
    the branches built after it.
    """
    calls = mentions.filter(
        F.col("kind").isin("call", "member_call", "super_call")).select(
        "mention_id", "kind", "name", "base_type", "scope_path", "doc_id",
        "n_args", "n_kwargs", "arg_ids", "arg_types",
    )
    joined = joined.filter(
        F.col("kind").isin("call", "member_call", "super_call"))

    # supertype walk: (base_type, d_record) ancestry pairs with minimal
    # depth
    joined = _with_ancestry(joined, closure)

    # signature viability (CallResolver.java:980-1014 defaults,
    # :847-907 implicit casts): applied only where the frontend exported
    # signature detail (d_n_defaults non-null) — a null-signature dim row
    # falls back to name-level matching
    nd = F.coalesce(F.col("d_n_defaults"), F.lit(0))
    n_eff = F.coalesce(F.col("n_args"), F.lit(0)) + F.coalesce(
        F.col("n_kwargs"), F.lit(0))
    arity_ok = (
        F.col("n_args").isNull() | F.col("d_n_params").isNull()
        | F.col("d_n_defaults").isNull()
        | ((n_eff >= F.col("d_n_params") - nd)
           & (F.coalesce(F.col("d_is_variadic"), F.lit(False))
              | (n_eff <= F.col("d_n_params"))))
    )
    # per-argument type compatibility: 0 = exact/unknown, 1 = implicit
    # numeric or string cast, 99 = incompatible (candidate dropped)
    _num = list(_NUM_TYPES)
    _str = list(_STR_TYPES)
    type_rank = F.when(
        F.col("arg_types").isNull() | F.col("d_param_types").isNull(),
        F.lit(0),
    ).otherwise(F.coalesce(F.array_max(F.zip_with(
        F.transform(F.col("arg_types"), _canon_sig_type),
        F.transform(F.col("d_param_types"), _canon_sig_type),
        lambda a, p: F.when(a.isNull() | p.isNull() | (a == "") | (p == "")
                            | (a == p), F.lit(0))
        .when(a.isin(*_num) & p.isin(*_num), F.lit(1))
        .when(a.isin(*_str) & p.isin(*_str), F.lit(1))
        .otherwise(F.lit(99)),
    )), F.lit(0)))

    # candidate filter: member calls must match the base record OR one of
    # its ancestor records when the base type is known
    # (CallResolver.java:1089-1127 + :1707-1739); plain calls must hit
    # functions; the signature must accept the args
    cand = joined.filter(
        (
            F.col("kind").isin("member_call", "super_call")
            & (F.col("d_kind") == "method")
            & (F.col("base_type").isNull()
               | (F.col("base_type") == F.col("d_record"))
               | F.col("_anc_depth").isNotNull())
        )
        | ((F.col("kind") == "call") & (F.col("d_kind") == "function"))
        # module/namespace-qualified call (Go ``util.Helper(1)``,
        # C++ ``A::func1()``): a member_call whose base names the
        # candidate's MODULE resolves to that module's free functions —
        # ScopeManagerTest.testMerge resolveFunction("A::func1") across
        # files, and the Go cross-package path (without this arm the
        # real function is skipped and a bogus inferred node is minted)
        | (
            (F.col("kind") == "member_call")
            & (F.col("d_kind") == "function")
            & F.col("base_type").isNotNull()
            & (F.col("base_type") == F.col("d_module"))
        )
        # unqualified call inside a method: base_type = enclosing record
        # (set by the frontend) — implicit-this candidates are the
        # record's own and inherited methods (JLS 15.12.1 / the
        # CallResolver method-scope ladder)
        | ((F.col("kind") == "call") & (F.col("d_kind") == "method")
           & F.col("base_type").isNotNull()
           & ((F.col("base_type") == F.col("d_record"))
              | F.col("_anc_depth").isNotNull()))
    ).filter(arity_ok).withColumn(
        "_type_rank", type_rank
    ).filter(F.col("_type_rank") < 99).withColumn(
        # exact record match outranks inherited; nearer ancestors outrank
        # farther ones (overriding methods shadow overridden ones); for an
        # unqualified call with record context, a free-function match
        # ranks BELOW any method match (innermost scope wins)
        "_depth_rank",
        F.when(F.col("base_type").isNotNull()
               & F.col("d_record").isNotNull()
               & (F.col("base_type") == F.col("d_record")), F.lit(0))
        .when(F.col("_anc_depth").isNotNull(), F.col("_anc_depth"))
        .when((F.col("kind") == "call") & (F.col("d_kind") == "function")
              & F.col("base_type").isNotNull(), F.lit(500))
        .otherwise(F.lit(0)),
    ).drop("_anc_depth")
    same_module = (
        F.when(_same_module(F.col("scope_path"), F.col("d_module")),
               F.lit(0)).otherwise(1)
    )
    winners = _pick_winner(
        cand.withColumn("_mod_rank", same_module),
        # nearest record first (exact-before-inherited), then local
        # scope, then exact-signature-before-cast — the CxxPrioResolution
        # ordering (scope ladder outranks the cast ladder); d_decl_id
        # last because overloads share one fqn (content-hash ids keep the
        # tiebreak deterministic across runs/resumes)
        ["_depth_rank", "_mod_rank", "_type_rank", "d_fqn", "d_decl_id"],
    ).drop("_mod_rank", "_depth_rank", "_type_rank").persist()
    # persist: FOUR consumers (CALLS edges, fn->call DFG, arg->param zip,
    # the missed anti-join) would otherwise each re-evaluate the ranking
    # window over the full joined frame

    calls_edges = winners.select(
        F.col("mention_id").alias("subj"), F.lit("CALLS").alias("pred"),
        F.col("d_decl_id").alias("obj"),
        # explicit super calls are marked so override dispatch skips them
        F.when(F.col("kind") == "super_call",
               F.create_map(F.lit("super"), F.lit("true")))
        .otherwise(F.create_map().cast("map<string,string>"))
        .alias("props"), "doc_id",
    )
    # DFG: invoked function flows into the call site
    fn_dfg = winners.select(
        F.col("d_decl_id").alias("subj"), F.lit("DFG").alias("pred"),
        F.col("mention_id").alias("obj"),
        F.create_map().cast("map<string,string>").alias("props"), "doc_id",
    )
    # DFG: positional arg_i -> param_i (zip of the two id arrays)
    arg_param = (
        winners.filter(F.col("arg_ids").isNotNull() & F.col("d_param_ids").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("arg_ids"), 1,
                            F.least(F.coalesce(F.col("n_args"), F.lit(0)),
                                    F.size("d_param_ids"))),
                    F.slice(F.col("d_param_ids"), 1,
                            F.least(F.coalesce(F.col("n_args"), F.lit(0)),
                                    F.size("d_param_ids"))),
                    lambda a, p: F.struct(a.alias("a"), p.alias("p")),
                )
            ).alias("z"),
        )
        .select(
            F.col("z.a").alias("subj"), F.lit("DFG").alias("pred"),
            F.col("z.p").alias("obj"),
            F.create_map().cast("map<string,string>").alias("props"), "doc_id",
        )
        .filter(F.col("subj").isNotNull() & F.col("obj").isNotNull())
    )

    # misses -> (1) function-pointer backward-DFG resolution, then (2)
    # inferred FunctionDeclaration
    # (deterministic id on (name, arity) so identical misses across 10^12
    # docs collapse to ONE canonical inferred node)
    # materialize the miss set: the fnptr walk's input and the inference
    # path both consume it — lazily each re-runs the whole name-join +
    # overload-ladder subtree (measured 54 s vs 18 s for the stage at
    # 96k docs)
    missed = calls.join(winners.select("mention_id"), "mention_id",
                        "left_anti").localCheckpoint(eager=True)
    walked = _function_pointer_targets(missed, nodes, edges, mentions)
    # one single-task job over the materialized walk: a row kind the
    # walk did not produce leaves its branch below unplanned (most
    # corpora have no function-pointer call at all)
    fnptr_kinds = sorted(r["kind"] for r in walked.coalesce(1)
                         .select("kind").distinct().collect())
    fp_edges = []
    fp_nodes = []
    if "hit" in fnptr_kinds:
        fp = walked.filter(F.col("kind") == "hit")
        hit_calls = fp.select(
            F.col("mention_id").alias("subj"), F.lit("CALLS").alias("pred"),
            F.col("fn_id").alias("obj"),
            F.create_map().cast("map<string,string>").alias("props"),
            "doc_id")
        hit_dfg = hit_calls.select(
            F.col("obj").alias("subj"), F.lit("DFG").alias("pred"),
            F.col("subj").alias("obj"), "props", "doc_id")
        fp_edges += [hit_calls, hit_dfg]
        missed = missed.join(fp.select("mention_id").distinct(),
                             "mention_id", "left_anti")
    if "term" in fnptr_kinds:
        # chains ending at an UNRESOLVED signature-hinted function ref
        # (`&fun`): resolve the terminal's (name, arity) against the
        # symbol dim, else infer FunctionDeclaration(name, arity) — the
        # same key link_refs' miss path mints, so both collapse to ONE
        # node (FunctionPointerTest noParamUnknown: every call through
        # any pointer to &fun invokes one inferred fn).  A mention with
        # a resolved hit keeps its terminals too: a conditionally
        # assigned pointer can have both
        tm = walked.filter(F.col("kind") == "term").select(
            "mention_id", "doc_id", "t_name", "t_nargs")
        t_dim = dim.filter(F.col("d_kind").isin("function", "method")).select(
            F.col("d_name").alias("t_name"), "d_decl_id", "d_n_params")
        tj = tm.join(
            F.broadcast(
                t_dim.join(tm.select("t_name").distinct(), "t_name",
                           "left_semi")),
            ["t_name"], "left_outer",
        )
        # arity-mismatched declarations are NULLED, not row-dropped: a
        # terminal whose name matches only wrong-arity decls must still
        # fall through to inference — dropping its rows would erase the
        # call entirely (no edge AND no inferred node)
        _t_arity_ok = (F.coalesce(F.col("d_n_params"), F.lit(0))
                       == F.col("t_nargs"))
        tj = (tj.withColumn(
                  "d_n_params",
                  F.when(_t_arity_ok, F.col("d_n_params")))
              .withColumn(
                  "d_decl_id",
                  F.when(_t_arity_ok, F.col("d_decl_id"))))
        # one winner PER TERMINAL, not per mention: a pointer reaching
        # several functions (cond ? &f : &g) keeps every invokes leg
        # (multi-invokes semantics); best declared match first, else the
        # inferred (name, arity) node
        tw = Window.partitionBy("mention_id", "t_name", "t_nargs").orderBy(
            F.col("d_decl_id").isNull().cast("int"), "d_decl_id")
        tj = (tj.withColumn("_rk", F.row_number().over(tw))
              .filter(F.col("_rk") == 1).drop("_rk"))
        t_obj = F.coalesce(
            F.col("d_decl_id"),
            _inferred_id_col("FunctionDeclaration", F.col("t_name"),
                             F.col("t_nargs")))
        t_calls = tj.select(
            F.col("mention_id").alias("subj"), F.lit("CALLS").alias("pred"),
            t_obj.alias("obj"),
            F.create_map().cast("map<string,string>").alias("props"),
            "doc_id")
        t_dfg = t_calls.select(
            F.col("obj").alias("subj"), F.lit("DFG").alias("pred"),
            F.col("subj").alias("obj"), "props", "doc_id")
        fp_edges += [t_calls, t_dfg]
        fp_nodes.append(_inferred_fn_nodes(
            tj.filter(F.col("d_decl_id").isNull()), t_obj, F.col("t_name"),
            F.col("t_nargs")))
        missed = missed.join(tm.select("mention_id").distinct(),
                             "mention_id", "left_anti")
    # unknown-class gate (CallResolverTest.ensureNoUnknownClassDummies):
    # a member call whose base type names NO record anywhere in the corpus
    # gets neither an inferred target nor a CALLS edge — the reference
    # only infers into known classes.  Module-qualified calls (Go
    # ``fmt.Printf``, Python ``mod.fn``) are NOT class members: a base
    # that names an imported module or any known module stays inferrable.
    # All three name sets are distinct projections of frames already in
    # the plan (no extra scan).
    known_bases = (
        dim.filter(F.col("d_kind") == "record")
        .select(F.col("d_name").alias("base_type"))
        .unionByName(dim.select(F.col("d_module").alias("base_type")))
        .unionByName(mentions.filter(F.col("kind") == "import")
                     .select(F.col("base_type")))
        .filter(F.col("base_type").isNotNull())
        .distinct()
        .withColumn("_base_known", F.lit(True))
    )
    missed = (
        missed.join(known_bases, "base_type", "left")
        .filter(~F.col("kind").isin("member_call", "super_call")
                | F.col("base_type").isNull() | F.col("_base_known"))
        .drop("_base_known")
    )
    inferred_sig = F.coalesce(F.col("n_args"), F.lit(0))
    missed_ids = missed.withColumn(
        "inf_id", _inferred_id_col("FunctionDeclaration", F.col("name"), inferred_sig)
    )
    inferred_nodes = _inferred_fn_nodes(missed_ids, F.col("inf_id"),
                                        F.col("name"), inferred_sig)
    inferred_calls = missed_ids.select(
        F.col("mention_id").alias("subj"), F.lit("CALLS").alias("pred"),
        F.col("inf_id").alias("obj"),
        F.create_map().cast("map<string,string>").alias("props"), "doc_id",
    )

    out_edges = (calls_edges.unionByName(fn_dfg).unionByName(arg_param)
                 .unionByName(inferred_calls))
    for part in fp_edges:
        out_edges = out_edges.unionByName(part)
    for part in fp_nodes:
        inferred_nodes = inferred_nodes.unionByName(part)
    return out_edges, inferred_nodes, fnptr_kinds


def link_refs(mentions: DataFrame, joined: DataFrame, dim: DataFrame,
              closure: DataFrame):
    """Resolve ``ref`` / ``member_ref`` / ``import`` mentions against
    module-level declarations (vars, functions, records) and record fields —
    the VariableUsageResolver cascade (J2), from the shared candidate
    frame ``joined`` (:func:`joined_mentions`).  Returns
    (edges, inferred_nodes).

    ``dim`` is the shared symbol dimension (see :func:`symbol_dim`) —
    unfiltered so its broadcast exchange is reused with link_calls';
    kind restrictions happen in the candidate filter.  ``closure`` (the
    record supertype closure, or None when empty) lets member refs reach
    INHERITED fields —
    ``child.inheritedField`` resolves against ancestor records' fields,
    nearest ancestor first (VariableUsageResolver.java:375-407
    resolveMember walks superTypesMap)."""
    # asterisk expansion (ImportResolver.java:62-120): a wildcard import
    # refers to EVERY module-level symbol of its source module — a
    # module-keyed join instead of the name join (records' members are
    # excluded like the reference's top-level-declarations walk)
    star = mentions.filter((F.col("kind") == "import")
                           & (F.col("name") == "*"))
    star_refers = (
        star.join(dim.filter(F.col("d_record").isNull()),
                  star["base_type"] == dim["d_module"])
        .select(
            F.col("mention_id").alias("subj"),
            F.lit("REFERS_TO").alias("pred"),
            F.col("d_decl_id").alias("obj"),
            F.create_map().cast("map<string,string>").alias("props"),
            "doc_id",
        )
    )
    # star mentions never match a name, so they are absent from the
    # inner-joined frame by construction
    joined = joined.filter(F.col("kind").isin("ref", "member_ref", "import"))

    # inherited-field walk: (base_type, d_record) ancestry pairs, nearest
    # ancestor first — mirrors the member-call supertype walk
    joined = _with_ancestry(joined, closure)
    cand = joined.filter(
        # member refs need a field of the matching record OR one of its
        # ancestor records when the base is known
        (
            (F.col("kind") == "member_ref")
            & (F.col("d_kind") == "field")
            & (F.col("base_type").isNull()
               | (F.col("base_type") == F.col("d_record"))
               | F.col("_anc_depth").isNotNull())
        )
        # implicit-this field access: an unqualified ref inside a method
        # carries base_type = enclosing record; it may bind a field of
        # that record or an ancestor even when the record is parsed in
        # another span/document (VariableUsageResolver.java resolve walks
        # the record scope before globals; CXXIncludeTest's
        # ``return someField`` in an out-of-line definition)
        | (
            (F.col("kind") == "ref")
            & (F.col("d_kind") == "field")
            & F.col("base_type").isNotNull()
            & ((F.col("base_type") == F.col("d_record"))
               | F.col("_anc_depth").isNotNull())
        )
        # module/namespace-qualified reference (Go ``util.GlobalVar``,
        # C++ ``A::x``): a member_ref whose base names the declaring
        # module binds its module-level vars/functions/records
        | (
            (F.col("kind") == "member_ref")
            & F.col("d_kind").isin("var", "function", "record")
            & F.col("base_type").isNotNull()
            & (F.col("base_type") == F.col("d_module"))
        )
        # signature-hinted method reference `&A::target` (n_args carries
        # the pointer's arity — FunctionPointerTest func_ptr.cpp): binds
        # the base record's (or an ancestor's) method
        | (
            (F.col("kind") == "member_ref")
            & (F.col("d_kind") == "method")
            & F.col("n_args").isNotNull()
            & (F.col("base_type").isNull()
               | (F.col("base_type") == F.col("d_record"))
               | F.col("_anc_depth").isNotNull())
        )
        # import mentions must match a symbol of the named source module
        | ((F.col("kind") == "import") & (F.col("d_kind") != "method")
           & (F.col("base_type").isNull() | (F.col("base_type") == F.col("d_module"))))
        | ((F.col("kind") == "ref")
           & ~F.col("d_kind").isin("field", "method"))
    ).filter(
        # fnptr-signature arity gate: a hinted reference (n_args set)
        # only binds declarations of exactly that arity; unhinted refs
        # and arity-less dims (vars/fields) pass untouched
        F.col("n_args").isNull() | F.col("d_n_params").isNull()
        | (F.col("n_args") == F.col("d_n_params"))
    ).withColumn(
        "_depth_rank",
        F.when(F.col("base_type").isNotNull()
               & F.col("d_record").isNotNull()
               & (F.col("base_type") == F.col("d_record")), F.lit(0))
        .when(F.col("_anc_depth").isNotNull(), F.col("_anc_depth"))
        # record scope is innermost: with a record context, a non-field
        # match (foreign module-level decl) ranks below any field match
        .when((F.col("kind") == "ref") & F.col("base_type").isNotNull()
              & (F.col("d_kind") != "field"), F.lit(500))
        .otherwise(F.lit(0)),
    ).drop("_anc_depth")
    same_module = (
        F.when(_same_module(F.col("scope_path"), F.col("d_module")),
               F.lit(0)).otherwise(1)
    )
    # value declarations outrank callables for a VALUE usage — a name
    # that is both a static field and a static method (StaticImportsTest
    # single: A.test) binds the field when read as `int y = test;`
    # (VariableUsageResolver resolves to value symbols; the call path
    # never reaches link_refs)
    kind_rank = (F.when(F.col("d_kind").isin("var", "field"), F.lit(0))
                 .when(F.col("d_kind") == "function", F.lit(1))
                 .otherwise(F.lit(2)))
    winners = _pick_winner(
        cand.withColumn("_mod_rank", same_module)
        .withColumn("_kind_rank", kind_rank),
        ["_depth_rank", "_mod_rank", "_kind_rank", "d_fqn", "d_decl_id"],
    ).drop("_mod_rank", "_depth_rank", "_kind_rank").persist()
    # persist: two consumers (REFERS_TO + DFG)

    refers = winners.select(
        F.col("mention_id").alias("subj"), F.lit("REFERS_TO").alias("pred"),
        F.col("d_decl_id").alias("obj"),
        F.create_map().cast("map<string,string>").alias("props"), "doc_id",
    )
    # read-access DFG decl -> ref (cross-doc writes are handled by the
    # refine stage later; reads dominate)
    dfg = winners.select(
        F.col("d_decl_id").alias("subj"), F.lit("DFG").alias("pred"),
        F.col("mention_id").alias("obj"),
        F.create_map().cast("map<string,string>").alias("props"), "doc_id",
    )
    # missed signature-hinted function references (`&fun` with no
    # declaration anywhere visible): infer FunctionDeclaration(name,
    # arity) — the same deterministic key link_calls' fnptr-terminal path
    # mints, so call-side and ref-side inference collapse to one node
    # (FunctionPointerTest: noParamUnknown/singleParamUnknown inferred)
    hinted = mentions.filter(
        F.col("kind").isin("ref", "member_ref") & F.col("n_args").isNotNull()
    ).select("mention_id", "name", "n_args", "doc_id")
    missed_h = hinted.join(winners.select("mention_id"), "mention_id",
                           "left_anti").withColumn(
        "inf_id",
        _inferred_id_col("FunctionDeclaration", F.col("name"),
                         F.col("n_args")))
    ref_inferred = _inferred_fn_nodes(missed_h, F.col("inf_id"),
                                      F.col("name"), F.col("n_args"))
    refers_inf = missed_h.select(
        F.col("mention_id").alias("subj"), F.lit("REFERS_TO").alias("pred"),
        F.col("inf_id").alias("obj"),
        F.create_map().cast("map<string,string>").alias("props"), "doc_id",
    )
    dfg_inf = refers_inf.select(
        F.col("obj").alias("subj"), F.lit("DFG").alias("pred"),
        F.col("subj").alias("obj"), "props", "doc_id")
    out = (refers.unionByName(dfg).unionByName(star_refers)
           .unionByName(refers_inf).unionByName(dfg_inf))
    return out, ref_inferred


def override_dispatch(calls_edges: DataFrame, overrides: DataFrame) -> DataFrame:
    """Extra CALLS edges for dynamic dispatch
    (CallResolver.java:1089-1127 getOverridingCandidates / issue #204
    semantics: ``invokes`` keeps both the statically-resolved method and
    every method overriding it — the runtime receiver may be any subtype).

    ``calls_edges``: any frame of CALLS edge rows (frontend-local AND
    link-resolved — dispatch applies to both);
    ``overrides``: (subj=sub_method, pred=OVERRIDES, obj=super_method)
    rows from :func:`cpg_spark.operators.hierarchy.overrides_edges`
    (transitive by construction — closure-joined)."""
    ov = overrides.select(F.col("obj").alias("obj"),
                          F.col("subj").alias("_sub"))
    return (
        calls_edges.filter(F.col("pred") == "CALLS")
        # an explicit super call invokes EXACTLY the supertype method —
        # never the override (SuperCallTest)
        .filter(F.coalesce(F.col("props").getItem("super"),
                           F.lit("")) != "true")
        .join(ov, "obj")
        .select(
            "subj", F.lit("CALLS").alias("pred"),
            F.col("_sub").alias("obj"),
            F.create_map().cast("map<string,string>").alias("props"),
            "doc_id",
        )
        .dropDuplicates(["subj", "obj"])
    )


def link_combined(mentions: DataFrame, symbols: DataFrame, nodes: DataFrame,
                  edges: DataFrame):
    """The linking stage: one output frame (row_kind edge|node) carrying
    linked edges, OVERRIDES edges and inferred nodes — materializing a
    SINGLE table lets Catalyst reuse the name-join exchanges across the
    edge and inferred-node branches instead of executing the join per
    output (:func:`split_linked` separates them again).
    The name join broadcasts the symbol dimension up to
    ``BROADCAST_MAX_ROWS`` rows and is salted above it.
    Unresolved record supertypes that name a JDK type pull in the static
    JDK ancestry (JavaExternalTypeHierarchyResolver, a default pass in
    the reference).

    The plan holds only the branches the input can fill.  One probe job
    (:func:`probe_supertypes`) answers whether any supertype resolves,
    which JDK types trigger, and the dimension size: with no resolvable
    supertype the closure is empty, so the ancestry joins, OVERRIDES and
    override dispatch are not planned.  The function-pointer walk's row
    kinds decide its hit and terminal branches (:func:`link_calls`).

    Returns (combined, stats); ``stats`` holds ``strategy``,
    ``dim_rows``, ``closure``
    (``"built"`` or ``"skipped"``) and ``fnptr_kinds``."""
    from cpg_spark.operators.external_hierarchy import (external_jdk_hierarchy,
                                                        probe_supertypes)
    from cpg_spark.operators.hierarchy import (overrides_edges,
                                               supertype_record_closure)

    dim = symbol_dim(symbols)
    any_resolved, triggers, dim_rows = probe_supertypes(nodes, edges, dim)
    strategy = "broadcast" if dim_rows <= BROADCAST_MAX_ROWS else "salted"
    jdk = external_jdk_hierarchy(nodes.sparkSession, triggers)
    if jdk is not None:
        # the closure below must see the implicit JDK records/edges so
        # `class A extends ArrayList` closes over the JDK chain
        jdk_nodes, jdk_edges = jdk
        nodes = nodes.unionByName(jdk_nodes)
        edges = edges.unionByName(jdk_edges)

    # ONE closure computation (depth-ranked) feeds the inherited member
    # walks and the OVERRIDES join; None when nothing can resolve
    closure = None
    if any_resolved or jdk is not None:
        closure = supertype_record_closure(nodes, edges, True,
                                           with_depth=True)

    joined = joined_mentions(mentions, dim, strategy)
    call_edges, inferred_nodes, fnptr_kinds = link_calls(
        mentions, joined, dim, closure, nodes, edges)
    ref_edges, ref_inferred = link_refs(mentions, joined, dim, closure)
    # branches infer the same (name, arity) node; one dedup over all
    inferred_nodes = inferred_nodes.unionByName(ref_inferred).dropDuplicates(
        ["node_id"])
    all_edges = call_edges.unionByName(ref_edges)
    if closure is not None:
        ov = overrides_edges(nodes, edges, symbols,
                             closure=closure.select("descendant", "ancestor"))
        # dynamic dispatch over BOTH frontend-local and link-resolved
        # CALLS (see override_dispatch) — ov also lands as OVERRIDES rows
        dispatch = override_dispatch(
            edges.select("subj", "pred", "obj", "props", "doc_id").unionByName(
                call_edges.select("subj", "pred", "obj", "props", "doc_id")),
            ov)
        all_edges = all_edges.unionByName(dispatch).unionByName(ov)
    all_edges = all_edges.withColumn("row_kind", F.lit("edge"))
    nodes_part = inferred_nodes.withColumn("row_kind", F.lit("node"))
    if jdk is not None:
        all_edges = all_edges.unionByName(
            jdk_edges.withColumn("row_kind", F.lit("edge")))
        nodes_part = nodes_part.unionByName(
            jdk_nodes.withColumn("row_kind", F.lit("node")))
    combined = all_edges.unionByName(nodes_part, allowMissingColumns=True)
    return combined, {"strategy": strategy, "dim_rows": dim_rows,
                      "closure": "skipped" if closure is None else "built",
                      "fnptr_kinds": fnptr_kinds}


def split_linked(combined: DataFrame):
    """(edges_linked, nodes_inferred) from the committed combined table."""
    from cpg_spark.schemas import NODES_SCHEMA

    edges = combined.filter(F.col("row_kind") == "edge").select(
        "subj", "pred", "obj", "props", "doc_id")
    node_cols = [f.name for f in NODES_SCHEMA.fields]
    nodes = combined.filter(F.col("row_kind") == "node").select(*node_cols)
    return edges, nodes
