"""PowerShell frontend (SURVEY F7).

Fixtures are the reference's own PowerShell test resources
(``cpg-language-powershell/src/test/resources/powershell/*.ps1``) and the
assertions mirror ``PowerShellFrontendTest.kt``: literal type inference,
param blocks, named-argument re-ordering to declared parameter positions,
if/elseif nesting, the four loop forms (with do-until's implicit ``!``),
switch case lowering, and try/catch/finally clauses.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from cpg_spark.frontends.ps_frontend import parse_ps_document
from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

LITERAL_PS1 = """
$b = True
$i = 42
$f = 1.0
$t = "Hello"
$a = Write-host ('a')
$arr = @(50, 20, "test")
"""

FUNCTION_PS1 = """
function test {
    $a = 2
}
function test2 {
    param (
        [string] $value,
        [string] $test,
        [string] $test2
    )
    Write-Host 555
}

function test3($testValue1, $testValue2) {
    Write-Host $testValue1
    test2 "hi" "some string" "more string"
    test2 -value "im value" -test2 "im test2" -test "im test"
    Write-Host("function", "hi")
    Write-Host "testing", "array", 5
}
"""

IF_PS1 = """
$i=2
if ($i -eq 2) {
    $i = 5
} elseif($i -lt 5) {
    $i = 40
} else {
    $i -= 20
}
"""

LOOP_PS1 = """
for ($i = 0; $i -lt 5; $i++) {
    $a = 5
}

$i = 0
while ($i -lt 5) {
    $a = 5
    $i++
}

$i = 0
do {
    $a = 5
    $i++
} while($i -lt 5)

$i = 0
do {
    $a = 5
    $i++
} until($i -gt 5)

$arr = @(50, 20, 42)
foreach($a in $arr) {
    Write-Host $a
    $b = $a + 2
}
"""

SWITCH_PS1 = """
$day = 5
switch ( $day )
{
    0 { 'Sunday'    }
    1 { 'Monday'    }
    2 { 'Tuesday'   }
    3 { 'Wednesday' }
    4 { 'Thursday'  }
    5 { 'Friday'    }
    6 { 'Saturday'  }
}
"""

TRY_PS1 = """
Try
{
    1/0
    Write-Host "HELLO"
}
Catch [System.Management.Automation.RuntimeException]
{
    Write-Host "An error occurred for RUNTIME"
}
Catch
{
    Write-Host "An error occurred without type"
}
Finally
{
    Write-Host "cleaning up ..."
}
"""

CMDLET_PS1 = """
$sb = {Get-Process powershell; Get-Service W32Time}
Invoke-Command -ScriptBlock $sb
"""


def _labels(g):
    return Counter(n["label"] for n in g.nodes)


def _var_types(g):
    nodes = {n["node_id"]: n for n in g.nodes}
    return {
        nodes[e["subj"]]["name"]: nodes[e["obj"]]["name"]
        for e in g.edges
        if e["pred"] == "EVAL_TYPE"
        and nodes[e["subj"]]["label"] == "VariableDeclaration"
    }


def test_literal_types():
    """PowerShellFrontendTest.testLiteral: $b Object, $i int, $f float,
    $t String, $a Object, $arr Object[]."""
    g = parse_ps_document("ps/literal/0001", 0, LITERAL_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    assert _var_types(g) == {
        "$b": "Object", "$i": "int", "$f": "float",
        "$t": "String", "$a": "Object", "$arr": "Object[]"}


def test_function_declarations_and_named_args():
    """PowerShellFrontendTest.testFunctionDeclaration: 3 functions, typed
    param block, resolved local calls, and named `-flag` arguments
    re-ordered to the declared parameter positions."""
    g = parse_ps_document("ps/function/0001", 0, FUNCTION_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["FunctionDeclaration"] == 3
    assert labs["ParameterDeclaration"] == 5  # 3 in param block + 2 inline
    nodes = {n["node_id"]: n for n in g.nodes}
    # param block types: [string] -> String
    ptypes = {nodes[e["subj"]]["name"]: nodes[e["obj"]]["name"]
              for e in g.edges if e["pred"] == "EVAL_TYPE"
              and nodes[e["subj"]]["label"] == "ParameterDeclaration"}
    assert ptypes == {"$value": "String", "$test": "String",
                      "$test2": "String"}
    # both test2 call sites resolve locally (reference: invokes == test2)
    test2 = next(n for n in g.nodes
                 if n["label"] == "FunctionDeclaration"
                 and n["name"] == "test2")
    calls = [e for e in g.edges
             if e["pred"] == "CALLS" and e["obj"] == test2["node_id"]]
    assert len(calls) == 2
    # named-arg call: textual arg 3 ("im test") carries DECLARED index 1
    named = [n for n in g.nodes if n["label"] == "Literal"
             and n["name"] == "im test"]
    assert named[0]["argument_index"] == 1
    assert next(n for n in g.nodes if n["name"] == "im test2")[
        "argument_index"] == 2
    # positional call keeps textual order
    assert next(n for n in g.nodes if n["name"] == "more string")[
        "argument_index"] == 2
    # `Write-Host "testing", "array", 5` passes ONE Object[] argument
    wh_arrays = [n for n in g.nodes
                 if n["label"] == "InitializerListExpression"]
    assert len(wh_arrays) == 2  # parenthesized + comma-list
    # cmdlet calls stay unresolved -> call mentions for the linker
    assert Counter(m["name"] for m in g.mentions
                   if m["kind"] == "call")["Write-Host"] == 4


def test_if_elseif_else():
    """PowerShellFrontendTest.testIf: elseif nests as an IfStatement in
    the else branch; `-=` keeps the compound-assign DFG."""
    g = parse_ps_document("ps/if/0001", 0, IF_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["IfStatement"] == 2
    nodes = {n["node_id"]: n for n in g.nodes}
    outer = [n for n in g.nodes if n["label"] == "IfStatement"]
    # one of the IfStatements is the elseStatement child of the other
    else_children = [e["obj"] for e in g.edges if e["pred"] == "AST"
                     and e["props"].get("field") == "elseStatement"]
    assert any(nodes[c]["label"] == "IfStatement" for c in else_children)
    # conditions: -eq and -lt binary operators on $i
    ops = Counter(n["name"] for n in g.nodes if n["label"] == "BinaryOperator")
    assert ops["-eq"] == 1 and ops["-lt"] == 1 and ops["-="] == 1
    assert outer


def test_loops():
    """PowerShellFrontendTest.testLoops: for / while / do-while / do-until
    (condition negated via implicit `!`) / foreach (iterable DFG-feeds the
    loop variable)."""
    g = parse_ps_document("ps/loop/0001", 0, LOOP_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["ForStatement"] == 1
    assert labs["WhileStatement"] == 1
    assert labs["DoStatement"] == 2
    assert labs["ForEachStatement"] == 1
    # do-until: exactly one implicit `!` wrapping the -gt comparison
    negs = [n for n in g.nodes
            if n["label"] == "UnaryOperator" and n["name"] == "!"]
    assert len(negs) == 1 and negs[0]["is_implicit"]
    nodes = {n["node_id"]: n for n in g.nodes}
    neg_in = [nodes[e["subj"]] for e in g.edges
              if e["pred"] == "AST" and e["subj"] == negs[0]["node_id"]]
    gt = [nodes[e["obj"]] for e in g.edges
          if e["subj"] == negs[0]["node_id"] and e["pred"] == "AST"]
    assert gt[0]["name"] == "-gt"
    # foreach: iterable flows into the loop variable
    fe = next(n for n in g.nodes if n["label"] == "ForEachStatement")
    var = next(e["obj"] for e in g.edges if e["subj"] == fe["node_id"]
               and e["props"].get("field") == "variable")
    assert nodes[var]["name"] == "$a"
    dfg_srcs = {nodes[e["subj"]]["name"] for e in g.edges
                if e["pred"] == "DFG" and e["obj"] == var}
    assert "$arr" in dfg_srcs
    # `$i++` update: postfix unary with write-back DFG into $i's decl
    incs = [n for n in g.nodes
            if n["label"] == "UnaryOperator" and n["name"] == "++"]
    assert len(incs) == 4


def test_switch_lowering():
    """PowerShellFrontendTest.testSwitch: 7 cases lower to CaseStatement +
    body CompoundStatement pairs (7 * 2 statements)."""
    g = parse_ps_document("ps/switch/0001", 0, SWITCH_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["SwitchStatement"] == 1
    assert labs["CaseStatement"] == 7
    sw = next(n for n in g.nodes if n["label"] == "SwitchStatement")
    nodes = {n["node_id"]: n for n in g.nodes}
    comp = next(e["obj"] for e in g.edges if e["subj"] == sw["node_id"]
                and e["props"].get("field") == "statement")
    stmts = [e for e in g.edges if e["subj"] == comp and e["pred"] == "AST"]
    assert len(stmts) == 7 * 2
    assert {nodes[c["node_id"]]["name"]
            for c in g.nodes if c["label"] == "CaseStatement"} == \
        {"0", "1", "2", "3", "4", "5", "6"}


def test_try_catch_finally():
    """PowerShellFrontendTest.testTryCatch: typed catch + untyped catch +
    finally; calls inside all blocks."""
    g = parse_ps_document("ps/try/0001", 0, TRY_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["TryStatement"] == 1
    assert labs["CatchClause"] == 2
    catch_names = [n["name"] for n in g.nodes if n["label"] == "CatchClause"]
    assert "System.Management.Automation.RuntimeException" in catch_names
    assert "" in catch_names
    # 1/0 in the try block parses as a real division
    assert any(n["label"] == "BinaryOperator" and n["name"] == "/"
               for n in g.nodes)
    assert Counter(m["name"] for m in g.mentions
                   if m["kind"] == "call")["Write-Host"] == 4


def test_scriptblock_lambda():
    """cmdletUsage.ps1: `$sb = {..}` is a LambdaExpression whose value
    flows into the $sb declaration and onward to the Invoke-Command
    argument."""
    g = parse_ps_document("ps/cmdlet/0001", 0, CMDLET_PS1)
    assert not any(n["label"] == "ProblemDeclaration" for n in g.nodes)
    labs = _labels(g)
    assert labs["LambdaExpression"] == 1
    nodes = {n["node_id"]: n for n in g.nodes}
    lam = next(n for n in g.nodes if n["label"] == "LambdaExpression")
    sb = next(n for n in g.nodes if n["label"] == "VariableDeclaration"
              and n["name"] == "$sb")
    assert any(e["subj"] == lam["node_id"] and e["obj"] == sb["node_id"]
               and e["pred"] == "DFG" for e in g.edges)
    # the two cmdlets inside the block + Invoke-Command = 3 call mentions
    assert Counter(m["kind"] for m in g.mentions)["call"] == 3
    # bare words (powershell / W32Time) are String literal arguments
    barewords = {n["name"] for n in g.nodes if n["label"] == "Literal"}
    assert {"powershell", "W32Time"} <= barewords


def test_parse_docs_dispatch(spark):
    g = CpgGraph(code_docs(spark, [("ps/mod/0001", "code/powershell",
                                    FUNCTION_PS1)]))
    assert g.nodes.filter(F.col("label") == "FunctionDeclaration").count() == 3
    assert g.edges.filter(F.col("pred") == "CALLS").count() == 2


def test_ps_script_params_and_attributes():
    """Script-level `[CmdletBinding()] param(...)` binds real
    ParameterDeclarations (about_Scripts), not expression garbage."""
    src = ('[CmdletBinding()]\n'
           'param(\n'
           '    [Parameter(Mandatory=$true)][string]$Path,\n'
           '    [int]$Retries = 3\n'
           ')\n'
           'Write-Host $Path\n')
    g = parse_ps_document("s.ps1", 0, src)
    assert not [n for n in g.nodes if "Problem" in (n["label"] or "")]
    params = {n["name"]: n for n in g.nodes
              if n["label"] == "ParameterDeclaration"}
    assert set(params) == {"$Path", "$Retries"}
    ref = next(n for n in g.nodes
               if n["label"] == "DeclaredReferenceExpression"
               and n["name"] == "$Path")
    assert any(e["pred"] == "REFERS_TO" and e["subj"] == ref["node_id"]
               and e["obj"] == params["$Path"]["node_id"]
               for e in g.edges)


def test_ps_range_operator_and_switch_flags():
    probs = lambda g: [n for n in g.nodes
                       if "Problem" in (n["label"] or "")]
    g = parse_ps_document("r.ps1", 0, "foreach ($f in 1..3) { f $f }")
    assert not probs(g)
    # range -> BinaryOperator '..' feeding the foreach iterable
    rng = next(n for n in g.nodes if n["label"] == "BinaryOperator"
               and n["name"] == "..")
    fe_ = next(n for n in g.nodes if n["label"] == "ForEachStatement")
    assert any(e["pred"] == "AST" and e["subj"] == fe_["node_id"]
               and e["obj"] == rng["node_id"] for e in g.edges)
    g2 = parse_ps_document("w.ps1", 0,
                           'switch -Regex ($s) { "^a" { f }; '
                           "default { g } }")
    assert not probs(g2)
    assert [n for n in g2.nodes if n["label"] == "SwitchStatement"]


def test_ps_function_param_pipeline_attribute():
    g = parse_ps_document(
        "p.ps1", 0,
        "function F { param([Parameter(ValueFromPipeline)]$x)"
        " process { $x * 2 } }")
    assert not [n for n in g.nodes if "Problem" in (n["label"] or "")]
    assert [n for n in g.nodes if n["label"] == "ParameterDeclaration"
            and n["name"] == "$x"]


def test_ps_real_activate_script_shapes():
    """Constructs from python's venv Activate.ps1 (real-world script the
    grammar was never tuned on): scoped function names, multi-line
    attributed inline params, doubled-quote escapes, $env: variables."""
    src = (
        'function global:deactivate ([switch]$NonDestructive) {\n'
        '    if (Test-Path -Path Function:_OLD_VIRTUAL_PROMPT) {\n'
        '        Remove-Item -Path Function:_OLD_VIRTUAL_PROMPT\n'
        '    }\n'
        '}\n'
        'function Get-PyVenvConfig(\n'
        '    [String]\n'
        '    $ConfigDir\n'
        ') {\n'
        '    Write-Verbose "Given ConfigDir=$ConfigDir"\n'
        '}\n'
        'if ("\'""".Contains($val.Substring(0, 1))) {\n'
        '    $val = $val.Substring(1, $val.Length - 2)\n'
        '}\n'
        '$env:VIRTUAL_ENV = $VenvDir\n')
    g = parse_ps_document("a.ps1", 0, src)
    assert not [n for n in g.nodes if "Problem" in (n["label"] or "")]
    fns = {n["name"] for n in g.nodes
           if n["label"] == "FunctionDeclaration"}
    assert fns == {"deactivate", "Get-PyVenvConfig"}
    p = next(n for n in g.nodes if n["label"] == "ParameterDeclaration"
             and n["name"] == "$ConfigDir")
    tids = [e["obj"] for e in g.edges
            if e["pred"] == "EVAL_TYPE" and e["subj"] == p["node_id"]]
    assert [n["name"] for n in g.nodes
            if n["node_id"] in tids] == ["String"]


def test_ps_panic_mode_recovery():
    """One bad construct yields one located ProblemDeclaration; later
    declarations survive (C-family _guard_top contract)."""
    src = ("function Good1 { return 1 }\n"
           "foreach ($x { }\n"
           "function Good2 { return 2 }\n")
    g = parse_ps_document("r.ps1", 0, src)
    fns = {n["name"] for n in g.nodes
           if n["label"] == "FunctionDeclaration"}
    assert {"Good1", "Good2"} <= fns
    assert sum(1 for n in g.nodes
               if n["label"] == "ProblemDeclaration") == 1


def test_ps_call_to_failed_definition_degrades():
    """A definition whose header fails still registers its name; a later
    call to it must not raise out of the frontend (that would fail the
    whole parse batch) but parse as a plain call."""
    g = parse_ps_document("r.ps1", 0, "function f { param( }\nf 1\n")
    labels = Counter(n["label"] for n in g.nodes)
    assert labels["ProblemDeclaration"] == 1
    assert labels["CallExpression"] == 1
    assert not g.id_faults()
