"""Session-factory configuration guards."""

from gem_data_wrangle_spark import get_spark
from gem_data_wrangle_spark.operators import kernels as K
from gem_data_wrangle_spark.session import _int_env


def test_int_env_skips_non_positive_values(monkeypatch):
    """Zero or negative shuffle-partition counts fall through to the
    next variable, then to the default — like non-numeric values."""
    names = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _int_env(names, 32) == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "-4")
    assert _int_env(names, 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert _int_env(names, 32) == 32
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "6")
    assert _int_env(names, 32) == 6


def test_get_spark_pins_unescaped_string_literals(spark):
    """A user conf cannot turn on escapedStringLiterals: the kernels'
    F.expr regex literals (kernels._sql_str) assume it is off."""
    key = "spark.sql.parser.escapedStringLiterals"
    try:
        s = get_spark("tests", conf={key: "true"})
        assert s.conf.get(key) == "false"
        df = s.createDataFrame([("A [25%];  B", "100")], "owner string, cap string")
        rows = K.split_ownership(
            df, "owner", "cap", equal_share=True, pct_grammar="bracketed"
        ).collect()
        assert [(r["company_name"], r["ownership_share"]) for r in rows] == [
            ("A", 0.25), ("B", 0.5),
        ]
    finally:
        spark.conf.set(key, "false")
