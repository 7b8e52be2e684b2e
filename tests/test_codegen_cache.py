"""Generated code is compiled once per session (session.get_spark's
``spark.sql.codegen.cache.maxEntries``).

The four curation queries of perfbench's ``curation`` pass need 136
distinct generated classes at sf0.001 in a fresh JVM, more than Spark's
stock codegen cache of 100 entries: at the stock cap each repeat evicted
the classes the next query needed and recompiled 107 of them. A repeat on
this session must compile none and return the same rows.

The check is on the third of three rounds, a repeat of the second. The
first round runs after whatever the session ran before: after the
calibration tests on the same table, the second round of
``q_prefix_filter_join`` fused two broadcast joins into a stage the first
round had planned without them and renumbered its whole-stage codegen
stages (16 compiles); the third and a fourth compiled 0.
"""

from __future__ import annotations


def test_repeated_curation_queries_compile_no_class(spark, sf_dir):
    from tools.smoke_gate import codegen_compiles_per_round

    compiles, rows = codegen_compiles_per_round(spark, sf_dir, rounds=3)
    assert compiles[-1] == 0, f"classes compiled per round: {compiles}"
    assert rows[-1] == rows[0]
    assert all(rows[0].values()), "a query returned no rows"
