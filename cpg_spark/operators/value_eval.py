"""Constant evaluation over the graph (SURVEY.md U1).

Re-derivation of the reference's ValueEvaluator
(``cpg-analysis/.../analysis/ValueEvaluator.kt:71-360``): resolve a
node's compile-time constant by chasing initializers / DFG edges
backwards and folding arithmetic (dispatch :75-106, binops incl. string
concatenation :120-243, unary minus :245-267, array subscript with a
constant index :269-294, conditional expression :296-314).

Spark shape: a driver-loop fixpoint over DataFrames — the same pattern
as the supertype closure.  Seeds are Literal nodes; each round
* folds BinaryOperator nodes whose LHS/RHS AST children both have values
  (+ - * / % < <= > >= == !=), including ``str + str`` concatenation,
* folds UnaryOperator '-' inputs,
* folds ConditionalExpression nodes whose condition is a known constant
  (picking the winning branch) or whose two branches agree,
* folds ArraySubscriptionExpression nodes whose subscript index is a
  known integer constant and whose array expression (directly, or through
  a single-initializer declaration) is an InitializerListExpression,
* copies values along DFG edges into reference/declaration nodes that
  have exactly ONE distinct known inbound value (several conflicting
  writes ⇒ not a constant — the reference returns the ambiguous set,
  we return nothing, which is the conservative projection).

Numeric values are doubles; booleans are 1.0/0.0 with a 'bool' tag;
strings live in the separate ``s_value`` column.  Converges in
O(expression depth) rounds; each round is a handful of joins +
aggregations, checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_VALUE_LABELS = {
    "DeclaredReferenceExpression", "VariableDeclaration",
    "ParamVariableDeclaration", "FieldDeclaration", "MemberExpression",
    "CastExpression", "ReturnStatement",
}

_BOOL_NAMES = ("True", "False", "true", "false")


def _fold_binop(op_col, l, r, int_div):
    # int / int is INTEGER division (truncating toward zero, C/C++/Java
    # semantics — ValueEvaluator.kt handleDiv folds Int operands to Int:
    # `float d = 8/3` evaluates to 2, ValueEvaluatorTest).  Spark's `%`
    # already follows the dividend's sign like C, so trunc(l/r) is
    # exactly (l - l % r) / r.
    return (
        F.when(op_col == "+", l + r)
        .when(op_col == "-", l - r)
        .when(op_col == "*", l * r)
        .when(op_col == "/",
              F.when(int_div & (r != 0), (l - l % r) / r)
              .otherwise(l / r))
        .when(op_col == "%", l % r)
        .when(op_col == "<", (l < r).cast("double"))
        .when(op_col == "<=", (l <= r).cast("double"))
        .when(op_col == ">", (l > r).cast("double"))
        .when(op_col == ">=", (l >= r).cast("double"))
        .when(op_col == "==", (l == r).cast("double"))
        .when(op_col == "!=", (l != r).cast("double"))
    )


def _is_bool_op(op_col):
    return op_col.isin("<", "<=", ">", ">=", "==", "!=")


def _vals_as(vals: DataFrame, key: str, prefix: str) -> DataFrame:
    """vals projected with renamed columns for a join against ``key``."""
    return vals.select(
        F.col("node_id").alias(key),
        F.col("value").alias(f"{prefix}v"),
        F.col("is_bool").alias(f"{prefix}b"),
        F.col("s_value").alias(f"{prefix}s"),
        F.col("is_int").alias(f"{prefix}i"),
    )


def evaluate_constants(nodes: DataFrame, edges: DataFrame,
                       max_iters: int = 12) -> DataFrame:
    """Returns (node_id, value double, is_bool boolean, s_value string)
    for every node with a derivable compile-time constant.  Numeric
    constants carry ``value`` (booleans additionally ``is_bool``); string
    constants carry ``s_value``."""
    # every round joins dimensions built from these; over a lazy input
    # (a fresh parse) each round would re-run the Python parse, so
    # materialize the projected inputs once
    nodes = nodes.select("node_id", "label", "name", "props") \
        .localCheckpoint(eager=True)
    edges = edges.filter(F.col("pred").isin("AST", "DFG", "REFERS_TO")) \
        .select("subj", "pred", "obj", "props").localCheckpoint(eager=True)
    props_val = F.col("props").getItem("value")
    # a literal is a STRING when the frontend recorded a quoted source
    # value (python repr / C string or char token) — checked before the
    # bool-name test so the string 'True' never masquerades as a boolean
    is_str = F.coalesce(props_val.rlike("^[\"']"), F.lit(False))
    lits = nodes.filter(F.col("label") == "Literal").select(
        "node_id",
        F.when(is_str, F.lit(None).cast("double"))
        .when(F.col("name").isin("True", "true"), F.lit(1.0))
        .when(F.col("name").isin("False", "false"), F.lit(0.0))
        .otherwise(
            # try_cast: non-numeric literal spellings (null, nullptr, None,
            # nil ...) fold to NULL instead of a runtime cast error
            F.regexp_replace(F.col("name"), "[lLuUfFdD]$", "")
            .try_cast("double")
        ).alias("value"),
        ((~is_str) & F.col("name").isin(*_BOOL_NAMES)).alias("is_bool"),
        F.when(is_str, F.col("name")).alias("s_value"),
        # integer-typed literal: numeric, not a float spelling, not bool —
        # drives the int/int truncating-division rule
        ((~is_str) & ~F.col("name").isin(*_BOOL_NAMES)
         & ~F.col("name").rlike("[.eE]")).alias("is_int"),
    ).filter(F.col("value").isNotNull() | F.col("s_value").isNotNull())

    ast = edges.filter(F.col("pred") == "AST")
    fld = F.col("props").getItem("field")
    binop_sides = ast.filter(fld.isin("LHS", "RHS")).select(
        F.col("subj").alias("op_id"), fld.alias("side"),
        F.col("obj").alias("child"))
    binops = nodes.filter(F.col("label") == "BinaryOperator").select(
        F.col("node_id").alias("op_id"),
        F.col("props").getItem("operator").alias("op"),
    ).filter(~F.col("op").isin(*[o + "=" for o in "+-*/%"], "="))
    unary_neg = (
        nodes.filter(F.col("label") == "UnaryOperator")
        .filter(F.col("props").getItem("operator") == "-")
        .select(F.col("node_id").alias("op_id"))
        .join(
            ast.filter(fld == "INPUT")
            .select(F.col("subj").alias("op_id"), F.col("obj").alias("child")),
            "op_id",
        )
    )

    # conditional-expression dimension (ValueEvaluator.kt:296-314)
    cond_dim = (
        nodes.filter(F.col("label") == "ConditionalExpression")
        .select(F.col("node_id").alias("cx"))
        .join(ast.filter(fld == "CONDITION")
              .select(F.col("subj").alias("cx"),
                      F.col("obj").alias("c_child")), "cx")
        .join(ast.filter(fld == "THEN_EXPR")
              .select(F.col("subj").alias("cx"),
                      F.col("obj").alias("t_child")), "cx")
        .join(ast.filter(fld == "ELSE_EXPR")
              .select(F.col("subj").alias("cx"),
                      F.col("obj").alias("e_child")), "cx")
    )

    # subscript dimension (ValueEvaluator.kt:269-294): the array child is
    # an InitializerListExpression directly, or a reference to a
    # declaration whose ONLY inbound DFG def is one
    iles = nodes.filter(F.col("label") == "InitializerListExpression")
    dfg_all = edges.filter(F.col("pred") == "DFG")
    decl_in = dfg_all.groupBy("obj").agg(F.count("*").alias("n_defs"))
    decl_inits = (
        dfg_all.join(iles.select(F.col("node_id").alias("subj"),
                                 F.col("node_id").alias("ile")), "subj")
        .join(decl_in.filter(F.col("n_defs") == 1), "obj")
        .select(F.col("obj").alias("decl"), "ile")
    )
    a2ile = (
        iles.select(F.col("node_id").alias("a_child"),
                    F.col("node_id").alias("ile"))
        .unionByName(
            edges.filter(F.col("pred") == "REFERS_TO")
            .select(F.col("subj").alias("a_child"), F.col("obj").alias("decl"))
            .join(decl_inits, "decl").select("a_child", "ile")
        )
    )
    sub_dim = (
        nodes.filter(F.col("label") == "ArraySubscriptionExpression")
        .select(F.col("node_id").alias("sx"))
        .join(ast.filter(fld == "ARRAY_EXPRESSION")
              .select(F.col("subj").alias("sx"),
                      F.col("obj").alias("a_child")), "sx")
        .join(ast.filter(fld == "SUBSCRIPT_EXPRESSION")
              .select(F.col("subj").alias("sx"),
                      F.col("obj").alias("i_child")), "sx")
        .join(a2ile, "a_child")
        .select("sx", "i_child", "ile")
    )
    ile_elems = ast.filter(fld == "INITIALIZERS").select(
        F.col("subj").alias("ile"),
        F.col("props").getItem("index").cast("int").alias("eidx"),
        F.col("obj").alias("elem"))

    copy_targets = nodes.filter(F.col("label").isin(*_VALUE_LABELS)).select(
        F.col("node_id").alias("tgt")
    )
    dfg = dfg_all.select(
        F.col("subj").alias("src"), F.col("obj").alias("tgt")
    ).join(copy_targets, "tgt")
    # a target is constant only once ALL its inbound defs are known and
    # agree — copying early would freeze a partial value (the reference
    # collects the full candidate set before judging, ValueEvaluator.kt)
    indegree = dfg.groupBy("tgt").agg(F.count("*").alias("n_in"))

    # one distinct-value key across the numeric and string domains
    val_key = F.coalesce(F.col("value").cast("string"),
                         F.concat(F.lit("s:"), F.col("s_value")))

    vals = lits.localCheckpoint(eager=True)
    for _ in range(max_iters):
        # binop folding: numeric arithmetic/comparisons + string concat
        lhs = binop_sides.filter(F.col("side") == "LHS").join(
            _vals_as(vals, "child", "l"), "child")
        rhs = binop_sides.filter(F.col("side") == "RHS").join(
            _vals_as(vals, "child", "r"), "child")
        both_int = (F.coalesce(F.col("li"), F.lit(False))
                    & F.coalesce(F.col("ri"), F.lit(False)))
        num = _fold_binop(F.col("op"), F.col("lv"), F.col("rv"), both_int)
        folded = (
            binops.join(lhs.select("op_id", "lv", "ls", "li"), "op_id")
            .join(rhs.select("op_id", "rv", "rs", "ri"), "op_id")
            .select(
                F.col("op_id").alias("node_id"),
                num.alias("value"),
                F.when(num.isNotNull(), _is_bool_op(F.col("op")))
                .otherwise(F.lit(False)).alias("is_bool"),
                F.when((F.col("op") == "+") & F.col("ls").isNotNull()
                       & F.col("rs").isNotNull(),
                       F.concat(F.col("ls"), F.col("rs"))).alias("s_value"),
                (both_int & ~_is_bool_op(F.col("op"))).alias("is_int"),
            )
            .filter(F.col("value").isNotNull() | F.col("s_value").isNotNull())
        )
        negs = unary_neg.join(
            vals.select(F.col("node_id").alias("child"),
                        F.col("value").alias("iv"),
                        F.col("is_int").alias("ii")), "child"
        ).filter(F.col("iv").isNotNull()).select(
            F.col("op_id").alias("node_id"),
            (-F.col("iv")).alias("value"), F.lit(False).alias("is_bool"),
            F.lit(None).cast("string").alias("s_value"),
            F.col("ii").alias("is_int"))
        # conditional: known condition picks a branch; agreeing branches
        # need no condition
        withc = cond_dim.join(
            vals.filter(F.col("value").isNotNull())
            .select(F.col("node_id").alias("c_child"),
                    F.col("value").alias("cv")), "c_child")
        pick = withc.withColumn(
            "w_child",
            F.when(F.col("cv") != 0, F.col("t_child"))
            .otherwise(F.col("e_child")))
        cond1 = pick.join(_vals_as(vals, "w_child", "w"), "w_child").select(
            F.col("cx").alias("node_id"), F.col("wv").alias("value"),
            F.col("wb").alias("is_bool"), F.col("ws").alias("s_value"),
            F.col("wi").alias("is_int"))
        agree = (
            cond_dim.join(_vals_as(vals, "t_child", "t"), "t_child")
            .join(_vals_as(vals, "e_child", "e"), "e_child")
            .filter(F.col("tv").eqNullSafe(F.col("ev"))
                    & F.col("ts").eqNullSafe(F.col("es")))
            .select(F.col("cx").alias("node_id"), F.col("tv").alias("value"),
                    F.col("tb").alias("is_bool"), F.col("ts").alias("s_value"),
                    F.col("ti").alias("is_int"))
        )
        # subscript: integer-constant index into an initializer list
        subs_f = (
            sub_dim.join(vals.select(F.col("node_id").alias("i_child"),
                                     F.col("value").alias("iv")), "i_child")
            .filter(F.col("iv").isNotNull()
                    & (F.col("iv") == F.floor(F.col("iv"))))
            .withColumn("eidx", F.col("iv").cast("int"))
            .join(ile_elems, ["ile", "eidx"])
            .join(_vals_as(vals, "elem", "x"), "elem")
            .select(F.col("sx").alias("node_id"), F.col("xv").alias("value"),
                    F.col("xb").alias("is_bool"), F.col("xs").alias("s_value"),
                    F.col("xi").alias("is_int"))
        )
        # DFG copy into targets whose inputs are ALL known and agree
        copied = (
            dfg.join(vals.select(F.col("node_id").alias("src"), "value",
                                 "is_bool", "s_value", "is_int"), "src")
            .groupBy("tgt")
            .agg(F.count("*").alias("n_known"),
                 F.count_distinct(val_key).alias("n"),
                 F.first("value").alias("value"),
                 F.first("is_bool").alias("is_bool"),
                 F.first("s_value").alias("s_value"),
                 F.first("is_int").alias("is_int"))
            .join(indegree, "tgt")
            .filter((F.col("n") == 1) & (F.col("n_known") == F.col("n_in")))
            .select(F.col("tgt").alias("node_id"), "value", "is_bool",
                    "s_value", "is_int")
        )
        new = (
            folded.unionByName(negs).unionByName(cond1).unionByName(agree)
            .unionByName(subs_f).unionByName(copied)
            .join(vals.select("node_id"), "node_id", "left_anti")
            .dropDuplicates(["node_id"])
        )
        if new.limit(1).count() == 0:
            break
        vals = vals.unionByName(new).localCheckpoint(eager=True)
    return vals
