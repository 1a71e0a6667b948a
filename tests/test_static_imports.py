"""StaticImportsTest parity over the reference's own fixtures
(cpg-core/src/test/resources/staticImports/{single,asterisk}/{A,B}.java;
StaticImportsTest.java).

Asserted semantics, per the reference test:

* ``import static A.test;`` makes BOTH the static method and the static
  field importable: ``test()`` in B.main invokes A's method test, and
  ``int y = test;`` refers to A's static FIELD test (single leg);
* the static field carries the ``static`` modifier;
* ``import static A.*;`` imports every STATIC member: ``a()``/``b()``/
  ``b(true)`` invoke A's static methods (overload by signature), the
  ``staticField`` read binds A.staticField;
* non-static members must NOT resolve through a static import:
  ``nonStatic()`` invokes an inferred declaration, and the
  ``nonStaticField`` read does not bind A.nonStaticField.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.pipeline import CpgGraph
from cpg_spark.synth import code_docs

SINGLE_A = """
public class A {

  public static int test = 42;

  public static void test() {

  }
}
"""

SINGLE_B = """
import static A.test;

public class B {

  public static void main(String[] args) {
    test();
    int y = test; // single import can retrieve multiple things
  }
}
"""

ASTERISK_A = """
public class A {

  public static int staticField = 42;
  public int nonStaticField = 43;

  public static void a() {

  }

  public static void b() {

  }

  public static void b(boolean param) {

  }

  public void nonStatic() {

  }
}
"""

ASTERISK_B = """
import static A.*;

public class B {

  public static void main(String[] args) {
    a();
    b();
    b(true);
    nonStatic();
    int y = staticField;
    int z = nonStaticField;
  }
}
"""


def _analyze(spark, docs_rows):
    g = CpgGraph(code_docs(spark, [(d, "code/java", s, 1)
                                   for d, s in docs_rows]))
    node_rows = {r["node_id"]: r.asDict(recursive=True)
                 for r in g.nodes.collect()}
    for r in g.inferred.collect():
        node_rows[r["node_id"]] = r.asDict(recursive=True)
    men = {r["mention_id"]: r.asDict(recursive=True)
           for r in g.mentions.collect()}
    edge_rows = [r.asDict() for r in g.edges.select(
        "subj", "pred", "obj").collect()]
    edge_rows += [r.asDict() for r in g.linked.select(
        "subj", "pred", "obj").collect()]
    return node_rows, edge_rows, men


def _edges_by(edge_rows, pred):
    return [e for e in edge_rows if e["pred"] == pred]


def test_single_static_import(spark):
    node_rows, edge_rows, men = _analyze(
        spark, [("java/simport/A", SINGLE_A), ("java/simport/B", SINGLE_B)])
    # the static field carries the `static` modifier
    field = [n for n in node_rows.values()
             if n["label"] == "FieldDeclaration" and n["name"] == "test"]
    assert len(field) == 1
    assert "static" in (field[0].get("props") or {}).get("modifiers", "")
    method = [n for n in node_rows.values()
              if n["label"] == "MethodDeclaration" and n["name"] == "test"]
    assert len(method) == 1
    # test() in B.main invokes A's static METHOD test
    call_targets = {node_rows[e["obj"]]["label"]
                    for e in _edges_by(edge_rows, "CALLS")
                    if (men.get(e["subj"]) or {}).get("name") == "test"
                    and e["obj"] in node_rows}
    assert call_targets == {"MethodDeclaration"}
    # `int y = test;` refers to A's static FIELD test (cross-document)
    ref_targets = {e["obj"] for e in _edges_by(edge_rows, "REFERS_TO")
                   if (men.get(e["subj"]) or {}).get("kind") == "ref"
                   and (men.get(e["subj"]) or {}).get("name") == "test"}
    assert ref_targets == {field[0]["node_id"]}
    # nothing about `test` was inferred
    assert not any(n.get("is_inferred") for n in node_rows.values()
                   if n["name"] == "test")


def test_asterisk_static_import(spark):
    node_rows, edge_rows, men = _analyze(
        spark, [("java/aimport/A", ASTERISK_A),
                ("java/aimport/B", ASTERISK_B)])
    methods = {n["node_id"]: n for n in node_rows.values()
               if n["label"] == "MethodDeclaration"}

    def _targets(site, n_args):
        return {e["obj"] for e in _edges_by(edge_rows, "CALLS")
                if (men.get(e["subj"]) or {}).get("name") == site
                and (men.get(e["subj"]) or {}).get("n_args") == n_args}

    # a() -> A.a (static)
    a_decl = [k for k, n in methods.items() if n["name"] == "a"]
    assert _targets("a", 0) == set(a_decl)
    # b() and b(true) -> the two static overloads, by signature
    b0 = _targets("b", 0)
    b1 = _targets("b", 1)
    assert len(b0) == 1 and len(b1) == 1 and b0 != b1
    assert all(methods[t]["name"] == "b" for t in b0 | b1)
    # nonStatic() must NOT resolve to A.nonStatic — inferred instead
    ns = _targets("nonStatic", 0)
    assert len(ns) == 1
    tgt = node_rows[ns.pop()]
    assert tgt["is_inferred"]
    # staticField read binds A.staticField; nonStaticField must not bind
    fields = {n["name"]: n for n in node_rows.values()
              if n["label"] == "FieldDeclaration"}
    sf_refs = {e["obj"] for e in _edges_by(edge_rows, "REFERS_TO")
               if (men.get(e["subj"]) or {}).get("name") == "staticField"}
    assert fields["staticField"]["node_id"] in sf_refs
    nsf_refs = {e["obj"] for e in _edges_by(edge_rows, "REFERS_TO")
                if (men.get(e["subj"]) or {}).get("name")
                == "nonStaticField"}
    assert fields["nonStaticField"]["node_id"] not in nsf_refs
    # the star import itself expands to every static member of A
    star = [m for m in men.values()
            if m["kind"] == "import" and m["name"] == "*"]
    assert len(star) == 1
    star_targets = {node_rows[e["obj"]]["name"]
                    for e in _edges_by(edge_rows, "REFERS_TO")
                    if e["subj"] == star[0]["mention_id"]
                    and e["obj"] in node_rows}
    assert star_targets == {"a", "b", "staticField"}
