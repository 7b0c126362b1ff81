"""Physical-plan regression tests.

The 100 TB story depends on plan PROPERTIES, not just results: filters
reaching the parquet scan, column pruning, broadcasts on small sides,
whole-stage codegen on the hot arithmetic, and top-k compiling to
TakeOrdered instead of a full sort. These asserts pin each property so a
refactor that silently loses one fails loudly. (The bucketed no-Exchange
asserts live in tests/test_bucketing.py and tests/test_crawl.py.)
"""

from __future__ import annotations

from ecc_spark.registry import queries

SF = "/root/testdata/sf0.001"


def _plan(spark, key: str) -> str:
    df = queries()[key](spark, SF)
    df.count()  # let AQE finalize the plan it actually ran
    return df._jdf.queryExecution().executedPlan().toString()


def test_notnull_filter_pushed_to_scan(spark):
    plan = _plan(spark, "filter_notnull")
    assert "PushedFilters: [IsNotNull" in plan


def test_limit_pushed_down_no_global_sort(spark):
    # page-stream LIMIT compiles to TakeOrdered, never a full sort+limit
    plan = _plan(spark, "limit_pages")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_bm25_topk_takeordered_and_single_row_broadcast(spark):
    plan = _plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    # corpus stats arrive via broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lang_id_prunes_unused_columns(spark):
    plan = _plan(spark, "lang_id")
    assert "ReadSchema" in plan
    # only doc_id+text are read; the fat/unused columns never leave parquet
    assert "n_chars" not in plan
    assert "source" not in plan


def test_link_semijoin_broadcasts_small_side(spark):
    plan = _plan(spark, "link_semijoin")
    assert "BroadcastHashJoin" in plan


def test_quality_score_stays_in_codegen(spark):
    # pure JVM column exprs: no Python evaluation node anywhere, and at
    # least one whole-stage-codegen span (the *(n) markers in toString;
    # higher-order lambda projections are interpreted by design)
    plan = _plan(spark, "quality_score")
    assert "*(" in plan
    assert "EvalPython" not in plan


def _subtrees(plan: str, marker: str) -> list[list[str]]:
    """For every plan line holding ``marker``: that line plus its subtree
    (the deeper-indented lines that follow it)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, head in enumerate(lines):
        if marker not in head:
            continue
        sub = [head]
        for line in lines[i + 1 :]:
            if depth(line) <= depth(head):
                break
            sub.append(line)
        out.append(sub)
    return out


def test_build_matches_is_one_narrow_page_pass(spark):
    """Phase 1 crosses into Python once per page, over the documents scan
    with no shuffle before it, and caches only what its outputs read."""
    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.matches import build_matches

    documents, seeds, _, _, _ = corpus_dataframes(spark, n_docs=20, n_seeds=5, seed=3)
    pages, _, _ = build_matches(documents, seeds)
    plan = pages._jdf.queryExecution().executedPlan().toString()
    (python_node,) = _subtrees(plan, "EvalPython")
    assert "page_matches" in python_node[0], plan
    assert not any("Exchange" in line for line in python_node), plan
    (cached,) = [line for line in plan.splitlines() if "InMemoryRelation" in line]
    for fat in ("spans#", "hidden_links#", "redirect#", "page_text#"):
        assert fat not in cached, cached


def test_xml_pages_parse_each_page_once(spark, tmp_path):
    """The page filter and projection share one XML parse per page."""
    from ecc_spark import gen
    from ecc_spark.wiki_xml import read_wikipedia_xml, wikipedia_pages

    xml = str(tmp_path / "dump.xml")
    gen.wiki_xml(xml, n_docs=20, n_seeds=5, seed=3)
    df = wikipedia_pages(read_wikipedia_xml(spark, xml))
    plan = df._jdf.queryExecution().executedPlan().toString()
    parses = [line for line in plan.splitlines() if "_parse_page_udf(" in line]
    assert len(parses) == 1 and "EvalPython" in parses[0], plan


def test_contexts_pattern_join_is_broadcast(spark):
    """The per-entity pattern table joins by an explicit broadcast, not
    by the size estimate: with automatic broadcasts off it still does."""
    from ecc_spark.contexts import build_contexts
    from ecc_spark.fixtures import corpus_dataframes
    from ecc_spark.matches import build_matches

    documents, seeds, seed_items, mid2rid, _ = corpus_dataframes(
        spark, n_docs=20, n_seeds=5, seed=3
    )
    pages, matches, mentions = build_matches(documents, seeds)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        ctx = build_contexts(spark, matches, pages, mentions, seed_items, mid2rid)
        plan = ctx._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert any(
        "collect_set" in line
        for sub in _subtrees(plan, "BroadcastExchange")
        for line in sub
    ), plan
