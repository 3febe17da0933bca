"""RDFS ρdf entailment (operators/rdfs.py): one-pass broadcast-join
materialization vs a naive pure-Python fixpoint, rule-by-rule checks,
and the code-KG ontology wiring (q116's value path is pinned by the
driver oracle)."""

import pytest
from pyspark.sql import functions as F

from claimskg_generator_spark.operators.rdfs import (
    DOMAIN,
    RANGE,
    RDF_TYPE,
    SUBCLASS,
    SUBPROP,
    _transitive,
    rdfs_entail,
)

SCHEMA3 = "subj string, pred string, obj string"


def _python_fixpoint(data, onto):
    """Naive rule-at-a-time iteration to fixpoint — the ground truth
    the one-pass operator must reproduce."""
    sc = {(s, o) for s, p, o in onto if p == SUBCLASS}
    sp = {(s, o) for s, p, o in onto if p == SUBPROP}
    dom = {(s, o) for s, p, o in onto if p == DOMAIN}
    rng = {(s, o) for s, p, o in onto if p == RANGE}
    g = set(data)
    while True:
        new = set()
        new |= {(s, q, o) for (s, p, o) in g for (p2, q) in sp if p2 == p}
        new |= {(s, RDF_TYPE, c) for (s, p, o) in g
                for (p2, c) in dom if p2 == p}
        new |= {(o, RDF_TYPE, c) for (s, p, o) in g
                for (p2, c) in rng if p2 == p}
        new |= {(x, RDF_TYPE, d) for (x, p, c) in g if p == RDF_TYPE
                for (c2, d) in sc if c2 == c}
        if new <= g:
            return g
        g |= new


ONTO = [
    ("File", SUBCLASS, "Doc"), ("Doc", SUBCLASS, "Thing"),
    ("Mod", SUBCLASS, "Thing"),
    ("imports", SUBPROP, "dependsOn"),
    ("dependsOn", SUBPROP, "relatedTo"),
    ("imports", DOMAIN, "File"), ("imports", RANGE, "Mod"),
]

DATA = [
    ("f1", "imports", "m1"),
    ("f2", "imports", "m2"),
    ("f1", RDF_TYPE, "File"),
    ("x", "relatedTo", "y"),        # already at the top property
    ("z", RDF_TYPE, "Thing"),       # already at the top class
]


def test_transitive_closure_helper():
    assert _transitive([("a", "b"), ("b", "c"), ("c", "d")]) == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d")}
    # cycle terminates and self-reaches
    assert ("a", "a") in _transitive([("a", "b"), ("b", "a")])


def test_one_pass_equals_python_fixpoint(spark):
    df = spark.createDataFrame(DATA, SCHEMA3)
    got = set(map(tuple, rdfs_entail(df, ONTO).collect()))
    assert got == _python_fixpoint(DATA, ONTO)
    # spot-check the chained entailments individually
    assert ("f1", "dependsOn", "m1") in got          # one sp level
    assert ("f1", "relatedTo", "m1") in got          # transitive sp
    assert ("f1", RDF_TYPE, "Doc") in got            # sc from domain-type
    assert ("f1", RDF_TYPE, "Thing") in got          # transitive sc
    assert ("m1", RDF_TYPE, "Mod") in got            # range
    assert ("m1", RDF_TYPE, "Thing") in got          # sc over range-type


def test_domain_range_lift_through_superproperty(spark):
    # (p sp q), (q dom c): an asserted (s p o) must still type s as c
    onto = [("p", SUBPROP, "q"), ("q", DOMAIN, "C"), ("q", RANGE, "D")]
    df = spark.createDataFrame([("a", "p", "b")], SCHEMA3)
    got = set(map(tuple, rdfs_entail(df, onto).collect()))
    assert got == _python_fixpoint([("a", "p", "b")], onto)
    assert ("a", RDF_TYPE, "C") in got and ("b", RDF_TYPE, "D") in got


def test_backslash_terms_pass_through_verbatim(spark):
    # ontology terms reach the rule relations as-is: a backslash followed
    # by 'n' must stay two characters, never become a newline
    cls, sup, prop = "urn:C\\nX", "urn:S\\tY", "urn:p\\'q"
    onto = [(cls, SUBCLASS, sup), (prop, DOMAIN, cls)]
    df = spark.createDataFrame([("a", prop, "b")], SCHEMA3)
    got = set(map(tuple, rdfs_entail(df, onto, include_schema=True)
                  .collect()))
    assert ("a", RDF_TYPE, cls) in got and ("a", RDF_TYPE, sup) in got
    assert (cls, SUBCLASS, sup) in got
    assert not any("\n" in v or "\t" in v for t in got for v in t)


def test_include_schema_emits_closed_ontology(spark):
    df = spark.createDataFrame([("a", "imports", "b")], SCHEMA3)
    got = set(map(tuple, rdfs_entail(df, ONTO, include_schema=True)
                  .collect()))
    assert ("imports", SUBPROP, "relatedTo") in got   # CLOSED, not raw
    assert ("File", SUBCLASS, "Thing") in got
    without = set(map(tuple, rdfs_entail(df, ONTO).collect()))
    assert not any(p in (SUBCLASS, SUBPROP, DOMAIN, RANGE)
                   for _, p, _ in without)


def test_empty_ontology_is_identity(spark):
    df = spark.createDataFrame(DATA, SCHEMA3)
    got = set(map(tuple, rdfs_entail(df, []).collect()))
    assert got == set(DATA)


def test_bad_ontology_predicate_rejected(spark):
    df = spark.createDataFrame(DATA, SCHEMA3)
    with pytest.raises(ValueError, match="ontology triples"):
        rdfs_entail(df, [("a", "madeUpPredicate", "b")])


def test_entailment_plan_broadcasts_schema(spark):
    df = spark.createDataFrame(DATA, SCHEMA3)
    plan = rdfs_entail(df, ONTO)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan


def test_code_ontology_on_code_triples(spark):
    from claimskg_generator_spark.operators import code_kg as ck
    from claimskg_generator_spark.operators.code_kg import code_triples

    files = spark.createDataFrame(
        [("rA", "a.py", "c1", "python", "import numpy")],
        "repo string, path string, commit string, lang string, "
        "content string")
    trips = code_triples(files).select("subj", "pred", "obj")
    got = set(map(tuple, rdfs_entail(trips, ck.CODE_ONTOLOGY).collect()))
    base = set(map(tuple, trips.collect()))
    assert base <= got
    file_uri = next(s for s, p, o in base
                    if p == ck.RDF_TYPE and o == ck.T_SOURCE_FILE)
    mod_uri = next(o for s, p, o in base if p == ck.P_IMPORTS)
    assert (file_uri, ck.P_DEPENDS_ON, mod_uri) in got
    assert (file_uri, ck.P_RELATED_TO, mod_uri) in got
    assert (file_uri, ck.RDF_TYPE, ck.T_RESOURCE) in got
    assert (mod_uri, ck.RDF_TYPE, ck.T_DEPENDENCY) in got
    assert (mod_uri, ck.RDF_TYPE, ck.T_RESOURCE) in got
    assert got == _python_fixpoint(base, ck.CODE_ONTOLOGY)


def test_sparql_over_lazy_entailed_view(spark):
    """Query-time inference (q118's shape): the SPARQL face composed
    over the unmaterialized rdfs_entail frame answers superproperty /
    superclass queries with zero asserted matches, and the query's
    predicate literal is pushed into the union branches (it appears as
    a pushed filter, including on the tiny schema relation)."""
    from claimskg_generator_spark.operators.sparql import sparql_select

    rows = [("f", "imports", "m"), ("f", RDF_TYPE, "File"),
            ("m", RDF_TYPE, "Module")]
    g2 = spark.createDataFrame(rows, SCHEMA3)
    onto = [("Module", SUBCLASS, "Thing"),
            ("imports", SUBPROP, "dependsOn")]
    df = sparql_select(
        rdfs_entail(g2, onto),
        "SELECT ?f ?m WHERE { ?f <dependsOn> ?m . ?m a <Thing> }")
    assert [tuple(r) for r in df.collect()] == [("f", "m")]
    # the predicate literal is pushed through the dedup+union — with
    # the schema as a LocalRelation Catalyst may constant-fold the
    # filter into the relation itself (even better); either way the
    # literal reaches below the union and no Python scan appears
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "dependsOn" in plan
    assert "PythonRDD" not in plan and "ApplySchemaToPython" not in plan


def test_entailment_is_data_linear_incremental(spark):
    """ρdf entailment is LINEAR in the data (every rule consumes one
    data triple + schema), so maintaining an entailed graph under
    appends needs only the delta: entail(G ∪ Δ) == entail(G) ∪
    entail(Δ).  This is the incremental-refresh contract the snapshot
    table's append path relies on — no re-derivation of the base."""
    base = spark.createDataFrame(DATA, SCHEMA3)
    delta = spark.createDataFrame(
        [("f9", "imports", "m9"), ("f9", RDF_TYPE, "File")], SCHEMA3)
    full = set(map(tuple, rdfs_entail(base.unionAll(delta), ONTO)
                   .collect()))
    inc = (set(map(tuple, rdfs_entail(base, ONTO).collect()))
           | set(map(tuple, rdfs_entail(delta, ONTO).collect())))
    assert full == inc


# ---------------------------------------------------------------- IFP

OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
SCHEMA4 = "subj string, pred string, obj string, okind string"


def _ifp(spark, rows, preds, **kw):
    from claimskg_generator_spark.operators.rdfs import ifp_sameas

    df = spark.createDataFrame(rows, SCHEMA4)
    out = ifp_sameas(df, preds, **kw)
    return {(r.subj, r.pred, r.obj, r.okind) for r in out.collect()}


def test_ifp_star_edges_to_min_subject(spark):
    rows = [
        ("b", "sha", "v1", ""), ("a", "sha", "v1", ""),
        ("c", "sha", "v1", ""),
        ("x", "sha", "v2", ""),            # singleton: no edge
        ("a", "other", "v1", ""),          # non-IFP pred ignored
    ]
    got = _ifp(spark, rows, ["sha"])
    assert got == {("b", OWL_SAME_AS, "a", "uri"),
                   ("c", OWL_SAME_AS, "a", "uri")}


def test_ifp_groups_are_per_pred_and_value(spark):
    # same value under a different predicate must NOT merge classes
    rows = [("a", "sha", "v", ""), ("b", "sha", "v", ""),
            ("c", "mbox", "v", ""), ("d", "mbox", "v", "")]
    got = _ifp(spark, rows, ["sha", "mbox"])
    assert got == {("b", OWL_SAME_AS, "a", "uri"),
                   ("d", OWL_SAME_AS, "c", "uri")}


def test_ifp_max_group_drops_degenerate_values(spark):
    rows = [(s, "sha", "zero", "") for s in "abcde"] + [
        ("p", "sha", "real", ""), ("q", "sha", "real", "")]
    got = _ifp(spark, rows, ["sha"], max_group=4)
    assert got == {("q", OWL_SAME_AS, "p", "uri")}


def test_ifp_validates_args(spark):
    df = spark.createDataFrame([("a", "p", "v", "")], SCHEMA4)
    from claimskg_generator_spark.operators.rdfs import ifp_sameas

    with pytest.raises(ValueError, match="ifp_preds"):
        ifp_sameas(df, [])
    with pytest.raises(ValueError, match="max_group"):
        ifp_sameas(df, ["p"], max_group=1)


# --------------------------------------------------------------------------
# transitive_entail (OWL 2 RL prp-trp, depth-bounded)
# --------------------------------------------------------------------------

def _python_trans_closure(edges, max_hops):
    """Ground truth: all pairs connected by 1..max_hops directed edges."""
    reach = set(edges)
    frontier = set(edges)
    for _ in range(max_hops - 1):
        frontier = {(s, d2) for s, d in frontier for d1, d2 in edges
                    if d1 == d}
        frontier -= reach
        if not frontier:
            break
        reach |= frontier
    return reach


def test_transitive_entail_chain_and_cycle(spark):
    from claimskg_generator_spark.operators.rdfs import transitive_entail

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
            ("x", "p", "y"), ("y", "p", "x"),     # 2-cycle
            ("a", "q", "b")]                      # q is NOT transitive
    df = spark.createDataFrame(rows, SCHEMA3)
    got = {tuple(r) for r in
           transitive_entail(df, ["p"], max_hops=4).collect()}
    edges = {(s, o) for s, p, o in rows if p == "p"}
    want = ({(s, "p", o) for s, o in _python_trans_closure(edges, 4)}
            | set(rows))
    assert got == want
    # the cycle entails self-reach — real prp-trp semantics
    assert ("x", "p", "x") in got and ("y", "p", "y") in got
    # the non-declared predicate stays un-closed
    assert ("a", "q", "c") not in got


def test_transitive_entail_depth_bound(spark):
    from claimskg_generator_spark.operators.rdfs import transitive_entail

    rows = [(f"n{i}", "p", f"n{i + 1}") for i in range(5)]
    df = spark.createDataFrame(rows, SCHEMA3)
    got2 = {tuple(r) for r in
            transitive_entail(df, ["p"], max_hops=2).collect()}
    assert ("n0", "p", "n2") in got2
    assert ("n0", "p", "n3") not in got2   # 3 hops — beyond the bound


def test_transitive_entail_multiple_preds_and_okind(spark):
    from claimskg_generator_spark.operators.rdfs import transitive_entail

    rows = [("a", "p", "b", "uri"), ("b", "p", "c", "uri"),
            ("a", "q", "b", "uri"), ("b", "q", "d", "uri"),
            ("a", "lbl", "A", "")]
    df = spark.createDataFrame(rows, SCHEMA4)
    got = {tuple(r) for r in
           transitive_entail(df, ["p", "q"], max_hops=3,
                             okind_col="okind").collect()}
    assert ("a", "p", "c", "uri") in got
    assert ("a", "q", "d", "uri") in got
    assert ("a", "lbl", "A", "") in got    # literals pass through
    assert len(got) == len(rows) + 2       # exactly the two new edges


def test_transitive_entail_validates_args(spark):
    from claimskg_generator_spark.operators.rdfs import transitive_entail

    df = spark.createDataFrame([("a", "p", "b")], SCHEMA3)
    with pytest.raises(ValueError, match="trans_preds"):
        transitive_entail(df, [], max_hops=3)
    with pytest.raises(ValueError, match="max_hops"):
        transitive_entail(df, ["p"], max_hops=0)


# --------------------------------------------------------------------------
# owl_property_entail (OWL 2 RL prp-symp, prp-inv1/inv2)
# --------------------------------------------------------------------------

def test_owl_symmetric_swaps_uri_rows_only(spark):
    from claimskg_generator_spark.operators.rdfs import owl_property_entail

    rows = [("a", "same", "b", "uri"),
            ("a", "same", "oops-literal", ""),   # must NOT swap
            ("a", "other", "c", "uri")]
    df = spark.createDataFrame(rows, SCHEMA4)
    got = {tuple(r) for r in owl_property_entail(
        df, symmetric=["same"], okind_col="okind").collect()}
    assert got == set(map(tuple, rows)) | {("b", "same", "a", "uri")}


def test_owl_inverse_fires_both_directions(spark):
    from claimskg_generator_spark.operators.rdfs import owl_property_entail

    rows = [("f", "inRepo", "r", "uri"),     # prp-inv1 input
            ("r2", "hasFile", "f2", "uri")]  # prp-inv2 input
    df = spark.createDataFrame(rows, SCHEMA4)
    got = {tuple(r) for r in owl_property_entail(
        df, inverses=[("inRepo", "hasFile")], okind_col="okind")
        .collect()}
    assert got == set(map(tuple, rows)) | {
        ("r", "hasFile", "f", "uri"),
        ("f2", "inRepo", "r2", "uri")}


def test_owl_property_entail_idempotent_no_okind(spark):
    from claimskg_generator_spark.operators.rdfs import owl_property_entail

    df = spark.createDataFrame([("a", "same", "b")], SCHEMA3)
    once = owl_property_entail(df, symmetric=["same"])
    twice = owl_property_entail(once, symmetric=["same"])
    assert sorted(map(tuple, once.collect())) == \
        sorted(map(tuple, twice.collect())) == \
        [("a", "same", "b"), ("b", "same", "a")]
    with pytest.raises(ValueError, match="at least one"):
        owl_property_entail(df)


def test_owl_property_entail_no_join_plan(spark):
    from claimskg_generator_spark.operators.rdfs import owl_property_entail

    df = spark.createDataFrame([("a", "same", "b", "uri")], SCHEMA4)
    plan = owl_property_entail(
        df, symmetric=["same"], inverses=[("p", "q")],
        okind_col="okind")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Python" not in plan
