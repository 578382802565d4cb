"""Gate-registry invariants: the driver's correctness run samples the
FIRST 50 rows of queries() in dict order, so the family-spanning tier
must stay exactly 50 names, all resolvable, all first — and every
driver-visible output cell must be SCALAR: the driver's pandas
canonicalizer sorts rows before hashing and crashes on list/struct/map
cells (`TypeError: unhashable type: 'list'`, the round-5 doc_bl_q10
regression)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_tier1_is_exactly_the_first_fifty():
    from jetro_spark.gate import _TIER1, all_oracles, all_queries

    qs = list(all_queries())
    assert len(_TIER1) == 50
    assert len(set(_TIER1)) == 50
    missing = [k for k in _TIER1 if k not in qs]
    assert not missing, f"tier names not in registry: {missing}"
    assert qs[:50] == [k for k in _TIER1 if k in qs], \
        "tier must be the registry prefix, in tier order"
    # every oracle key is a registered query (driver contract)
    assert set(all_oracles()) <= set(qs)


def _complex_cols(schema):
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))]


def test_all_registry_outputs_scalar_typed(spark):
    """The FULL registry (the driver-sampled tier AND every rotation
    candidate) must emit only scalar columns, so re-tiering can never
    reintroduce the canonicalizer crash. Building the DataFrame is
    enough — the schema is known without executing the plan (a handful
    of rows train models or sample schemas at build time, which sf0.001
    keeps cheap)."""
    from jetro_spark.gate import all_queries

    offenders = {}
    for name, fn in all_queries().items():
        bad = _complex_cols(fn(spark, SF_DIR).schema)
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar gate outputs: {offenders}"


def test_benchlock_handle_is_cached_per_session(spark):
    """The bench_lock document handle is built once per session and
    lives on the session object, not in a module map keyed on id()."""
    from jetro_spark.gate.benchlock import _jt

    assert _jt(spark) is _jt(spark)
    assert _jt(spark.newSession()) is not _jt(spark)

