"""melt_ids (int-column-id melt, guide §2.3 narrower shuffle keys) must be a
pure re-keying of melt: mapping ids back through the returned CASE expression
reproduces the string melt exactly, so every per-column aggregate downstream
is unchanged by construction. Pinned here directly (the 363-query parity
sweep pins the aggregates end to end)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from serene_spark.catalog import COLUMNS, load_table
from serene_spark.functions.melt import melt, melt_ids


def test_melt_ids_maps_back_to_string_melt(spark, sf_dir):
    df = load_table(spark, sf_dir, "customer")
    expected = Counter(
        (r.column_name, r.value) for r in melt(df).collect()
    )
    long_df, name_case = melt_ids(df)
    mapped = Counter(
        (r.column_name, r.value)
        for r in long_df.withColumn("column_name", F.expr(name_case)).collect()
    )
    assert mapped == expected


def test_melt_ids_key_is_int_and_case_is_bijective(spark, sf_dir):
    df = load_table(spark, sf_dir, "nation")
    long_df, name_case = melt_ids(df)
    assert dict(long_df.dtypes)["column_name"] == "int"
    ids = sorted(r[0] for r in long_df.select("column_name").distinct().collect())
    assert ids == list(range(len(COLUMNS["nation"])))
    names = {
        r[0]
        for r in long_df.select(F.expr(name_case)).distinct().collect()
    }
    assert names == set(COLUMNS["nation"])


def test_profile_scalar_unchanged_by_id_keying(spark, sf_dir):
    """The registered runner (ids) equals the one-pass statement over the
    plain string melt, row for row."""
    from serene_spark.functions.sqlgen import SPARK
    from serene_spark.operators.profile_scalar import (
        hist_sql,
        profile_scalar,
        scalar_onepass_sql,
    )

    melt(load_table(spark, sf_dir, "supplier")).createOrReplaceTempView(
        "__melt_ids_test_long"
    )
    via_strings = spark.sql(
        f"WITH hist AS ({hist_sql('__melt_ids_test_long')}),\n"
        + scalar_onepass_sql(SPARK, "hist")
    )
    via_ids = profile_scalar(spark, sf_dir, "supplier")
    key = sorted(via_strings.columns)
    a = sorted(map(tuple, via_strings.select(*key).collect()))
    b = sorted(map(tuple, via_ids.select(*key).collect()))
    assert a == b


def test_melts_of_one_handle_probe_partitions_once(spark, sf_dir, monkeypatch):
    """melt/melt_ids spread a fresh projection of their input; the partition
    probe (~50 ms of planning) is memoized on the input handle, so repeated
    melts of one cached catalog table pay it once."""
    df = load_table(spark, sf_dir, "supplier")
    if hasattr(df, "_serene_nparts"):  # memoized by an earlier test
        del df._serene_nparts
    cls = type(df)
    rdd = cls.rdd  # a cached_property in pyspark's classic DataFrame
    probes = []

    def counting(self):
        probes.append(self)
        return rdd.func(self) if hasattr(rdd, "func") else rdd.fget(self)

    # a data descriptor: wins over any RDD already cached on the instance
    monkeypatch.setattr(cls, "rdd", property(counting))
    melt(df)
    melt_ids(df)
    melt(load_table(spark, sf_dir, "supplier"), ["s_name", "s_acctbal"])
    assert probes == [df]
