"""Sink parity tests (reference ``tests/test_plugins_loaders.py``)."""

import glob
import os

import pytest

from mission_data_pipeline_spark.sinks import (
    write_csv_per_parameter,
    write_csv_wide,
    write_parquet_per_parameter,
    write_parquet_wide,
)


@pytest.fixture()
def params_df(spark):
    rows = [
        ("temp", 0x100, i, float(i), float(v), None, v * 0.5, None,
         "degC", True, None, False, 0)
        for i, v in enumerate([10, 20, 30])
    ] + [
        ("volt", 0x100, i, float(i), float(v), None, v * 1.0, None,
         "V", True, None, False, 0)
        for i, v in enumerate([7, 8])
    ]
    from mission_data_pipeline_spark.models.schemas import PARAMS_SCHEMA

    return spark.createDataFrame(rows, schema=PARAMS_SCHEMA)


def test_parquet_per_parameter(spark, params_df, tmp_path):
    out = str(tmp_path / "pq")
    write_parquet_per_parameter(params_df, out)
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert sorted(d["name"] for d in back.select("name").distinct().collect()) == [
        "temp",
        "volt",
    ]
    # Hive layout: partition-pruned read touches one directory
    assert os.path.isdir(os.path.join(out, "name=temp"))


def test_parquet_apid_partitioning(spark, params_df, tmp_path):
    out = str(tmp_path / "pq_apid")
    write_parquet_per_parameter(params_df, out, partition_by_apid=True)
    assert os.path.isdir(os.path.join(out, "name=temp", "apid=256"))


def test_parquet_append(spark, params_df, tmp_path):
    out = str(tmp_path / "pq_app")
    write_parquet_per_parameter(params_df, out)
    write_parquet_per_parameter(
        params_df.filter("name = 'volt'"), out, overwrite=False
    )
    assert spark.read.parquet(out).count() == 7  # 5 + 2 appended


def test_parquet_wide(spark, params_df, tmp_path):
    out = str(tmp_path / "wide")
    write_parquet_wide(params_df, out)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"time_tai", "temp", "volt"}
    assert back.count() == 3  # union of times 0,1,2
    r = {x["time_tai"]: x for x in back.collect()}
    assert r[2.0]["temp"] == 15.0 and r[2.0]["volt"] is None


def test_csv_per_parameter(spark, params_df, tmp_path):
    out = str(tmp_path / "csv")
    write_csv_per_parameter(params_df, out)
    files = glob.glob(os.path.join(out, "name=temp", "*.csv"))
    assert files
    text = "".join(open(f).read() for f in files)
    assert "eng_value" in text.splitlines()[0]
    assert "5.000000000" in text  # %.9f float formatting


def test_csv_wide(spark, params_df, tmp_path):
    out = str(tmp_path / "csv_wide")
    write_csv_wide(params_df, out)
    back = spark.read.option("header", True).csv(out)
    assert set(back.columns) == {"time_tai", "temp", "volt"}
    assert back.count() == 3


def test_hdf5_write_and_readback_real_bytes(spark, params_df, tmp_path):
    """L5 un-gated: write_hdf5 emits REAL HDF5 bytes on every host —
    via h5py when importable, else the pure-Python spec-subset writer
    (sinks/hdf5_pure.py) — and the file reads back with the matching
    reader. Layout parity: reference src/mdp/plugins/loaders/hdf5.py
    (/telemetry/<param>, gzip-4, unit attrs, cross-call append)."""
    from mission_data_pipeline_spark.sinks import write_hdf5
    from mission_data_pipeline_spark.sinks.hdf5 import h5py
    from mission_data_pipeline_spark.sinks import hdf5_pure

    out = str(tmp_path / "t.h5")
    assert write_hdf5(params_df, out, mode="w") == 5  # rows written
    assert write_hdf5(params_df.filter("name = 'volt'"), out) == 2  # append
    assert open(out, "rb").read(8) == b"\x89HDF\r\n\x1a\n"
    backend = h5py if h5py is not None else hdf5_pure
    with backend.File(out, "r") as f:
        g = f["telemetry"]["temp"]
        assert list(g["eng_value"][:]) == [5.0, 10.0, 15.0]
        assert g.attrs["unit"] == "degC"
        assert f["telemetry"]["volt"]["eng_value"].shape == (4,)  # 2 + 2


def test_hdf5_pure_roundtrip_all_dtypes(tmp_path):
    """The pure writer's bytes parse back exactly: f8/i4/i1 numerics,
    fixed-width strings, multi-chunk gzip datasets, group attrs, and
    append-after-reopen (classic v0 superblock, public spec)."""
    import numpy as np

    from mission_data_pipeline_spark.sinks import hdf5_pure as hp

    out = str(tmp_path / "pure.h5")
    big = np.arange(2_000_000, dtype="f8") * 0.5
    with hp.File(out, "w") as f:
        g = f.require_group("telemetry").require_group("obc_temp")
        g.create_dataset("time_tai", data=big, maxshape=(None,),
                         compression="gzip", compression_opts=4)
        g.create_dataset("apid", data=np.full(7, 0x100, dtype="i4"),
                         maxshape=(None,), compression="gzip",
                         compression_opts=4)
        g.create_dataset("validity", data=np.ones(7, dtype="i1"),
                         maxshape=(None,), compression="gzip",
                         compression_opts=4)
        s = np.asarray(["ON", "OFF", "STANDBY"], dtype=hp.string_dtype())
        g.create_dataset("eng_value_str", data=s, maxshape=(None,),
                         compression="gzip", compression_opts=4)
        g.attrs["unit"] = "degC"
    with hp.File(out, "a") as f:  # reopen-append
        d = f["telemetry"]["obc_temp"]["time_tai"]
        n = d.shape[0]
        d.resize(n + 3, axis=0)
        d[n:] = np.array([-1.0, -2.0, -3.0])
    root = hp.read_h5(out)
    g = root.groups["telemetry"].groups["obc_temp"]
    t = g.datasets["time_tai"].data
    assert len(t) == 2_000_003
    assert t[:2_000_000].tolist() == big.tolist()
    assert t[-3:].tolist() == [-1.0, -2.0, -3.0]
    assert g.datasets["apid"].data.dtype == np.dtype("int32")
    assert g.datasets["validity"].data.dtype == np.dtype("int8")
    assert g.datasets["eng_value_str"].data.tolist() == [
        b"ON", b"OFF", b"STANDBY"]
    assert g.attrs["unit"] == "degC"
    # gzip actually applied: 16 MB of f8 compresses well below raw size
    assert os.path.getsize(out) < big.nbytes


def test_hdf5_pure_structure_is_spec_shaped(tmp_path):
    """Spot-check the emitted structures against the public format spec:
    superblock v0 field layout, B-tree/SNOD/HEAP signatures present."""
    import numpy as np
    import struct as st

    from mission_data_pipeline_spark.sinks import hdf5_pure as hp

    out = str(tmp_path / "s.h5")
    with hp.File(out, "w") as f:
        g = f.require_group("telemetry").require_group("p")
        g.create_dataset("x", data=np.arange(10, dtype="f8"),
                         maxshape=(None,), compression="gzip",
                         compression_opts=4)
    raw = open(out, "rb").read()
    assert raw[:8] == b"\x89HDF\r\n\x1a\n"
    assert raw[8] == 0  # superblock version 0
    assert raw[13] == 8 and raw[14] == 8  # offset/length sizes
    eof = st.unpack_from("<Q", raw, 40)[0]
    assert eof == len(raw)  # end-of-file address is exact
    for sig in (b"TREE", b"SNOD", b"HEAP"):
        assert sig in raw


class _FakeDataset:
    """h5py.Dataset stand-in: 1-D resizable numpy-backed array."""

    def __init__(self, data):
        import numpy as np

        self.data = np.asarray(data)

    @property
    def shape(self):
        return self.data.shape

    def resize(self, n, axis=0):
        import numpy as np

        assert axis == 0
        grown = np.zeros(n, dtype=self.data.dtype)
        grown[: self.data.shape[0]] = self.data
        self.data = grown

    def __setitem__(self, key, value):
        self.data[key] = value


class _FakeGroup:
    def __init__(self):
        self.members: dict = {}
        self.attrs: dict = {}

    def require_group(self, name):
        return self.members.setdefault(name, _FakeGroup())

    def create_dataset(self, name, data=None, **_kw):
        assert name not in self.members
        self.members[name] = _FakeDataset(data)

    def __contains__(self, name):
        return name in self.members

    def __getitem__(self, name):
        return self.members[name]


class _FakeH5:
    """Minimal h5py-compatible backend: exposes File/string_dtype, keeps
    files in a dict so "a" mode re-opens the same tree."""

    def __init__(self):
        self.files: dict = {}

    def string_dtype(self):
        return object

    def File(self, path, mode):
        if mode == "w" or path not in self.files:
            self.files[path] = _FakeGroup()
        root = self.files[path]

        class _Ctx:
            def __enter__(_self):
                return root

            def __exit__(_self, *exc):
                return False

        return _Ctx()


def test_hdf5_export_logic_without_h5py(spark, params_df, tmp_path):
    """The driver-side export logic — reference parity for
    src/mdp/plugins/loaders/hdf5.py: /telemetry/<param> layout,
    cross-call resizable append, numeric/string dataset split, unit
    attr, validity coercion — verified through an injected in-memory
    backend, since h5py (the byte-encoding layer only) is absent in
    this environment."""
    from pyspark.sql import functions as F

    from mission_data_pipeline_spark.sinks import write_hdf5

    h5 = _FakeH5()
    out = str(tmp_path / "fake.h5")
    write_hdf5(params_df, out, mode="w", _h5=h5)
    write_hdf5(params_df.filter("name = 'volt'"), out, _h5=h5)  # append

    root = h5.files[out]
    tele = root["telemetry"]
    assert sorted(tele.members) == ["temp", "volt"]
    g = tele["temp"]
    assert list(g["eng_value"].data) == [5.0, 10.0, 15.0]
    assert list(g["time_tai"].data) == [0.0, 1.0, 2.0]
    assert list(g["validity"].data) == [1, 1, 1]
    assert g.attrs["unit"] == "degC"
    # cross-call append resized the volt datasets: 2 + 2 rows
    assert tele["volt"]["eng_value"].shape == (4,)
    assert list(tele["volt"]["eng_value"].data) == [7.0, 8.0, 7.0, 8.0]

    # string-valued samples land in a parallel eng_value_str dataset
    sdf = params_df.withColumn(
        "eng_value", F.lit(None).cast("double")
    ).withColumn("eng_value_str", F.lit("SAFE_MODE"))
    write_hdf5(sdf.filter("name = 'temp'"), out, _h5=h5)
    g = h5.files[out]["telemetry"]["temp"]
    assert list(g["eng_value_str"].data) == ["SAFE_MODE"] * 3
    assert g["eng_value"].shape == (3,)  # numeric datasets untouched


def test_merge_upsert_last_wins_and_idempotent(spark, tmp_path):
    from mission_data_pipeline_spark.sinks.merge import merge_upsert

    base_dir = str(tmp_path / "ds")
    v1 = spark.createDataFrame(
        [(1, 1, "a1"), (2, 1, "b1"), (3, 1, "c1")], "k long, v long, val string"
    )
    merge_upsert(spark, base_dir, v1, key_cols=["k"], version_col="v")
    # update k=2, insert k=4, deliver a STALE row for k=3 (v=0: must lose)
    upd = spark.createDataFrame(
        [(2, 2, "b2"), (4, 2, "d2"), (3, 0, "stale")], "k long, v long, val string"
    )
    merge_upsert(spark, base_dir, upd, key_cols=["k"], version_col="v")
    expect = {(1, 1, "a1"), (2, 2, "b2"), (3, 1, "c1"), (4, 2, "d2")}
    got = {tuple(r) for r in spark.read.parquet(base_dir).collect()}
    assert got == expect
    # idempotent: re-delivering the same batch changes nothing
    merge_upsert(spark, base_dir, upd, key_cols=["k"], version_col="v")
    assert {tuple(r) for r in spark.read.parquet(base_dir).collect()} == expect


def test_merge_upsert_validates_keys(spark, tmp_path):
    import pytest as _pytest

    from mission_data_pipeline_spark.sinks.merge import merge_upsert

    df = spark.createDataFrame([(1, 1)], "k long, v long")
    with _pytest.raises(ValueError):
        merge_upsert(spark, str(tmp_path / "x"), df, key_cols=[], version_col="v")


def test_compact_dataset_splittable_output(spark, tmp_path):
    """Compaction must produce >= min_files splittable files with
    content identical to the source, and respect target sizing."""
    import pyarrow.parquet as pq

    from mission_data_pipeline_spark.sinks.compact import (
        compact_dataset,
        dataset_bytes,
    )

    src = str(tmp_path / "src")
    # single-file, single-row-group source (the pathological layout)
    spark.range(50_000).selectExpr(
        "id", "repeat('token ', 20) AS text"
    ).coalesce(1).write.parquet(src)
    assert dataset_bytes(src) > 0
    dst = str(tmp_path / "dst")
    n = compact_dataset(spark, src, dst, min_files=8)
    assert n >= 8
    import os

    files = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(dst)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) == n
    assert all(pq.ParquetFile(f).num_row_groups >= 1 for f in files)
    back = spark.read.parquet(dst)
    assert back.count() == 50_000
    a = spark.read.parquet(src).agg({"id": "sum"}).first()[0]
    assert back.agg({"id": "sum"}).first()[0] == a

    import pytest as _pytest

    with _pytest.raises(ValueError):
        compact_dataset(spark, src, dst, target_file_bytes=0)
    with _pytest.raises(ValueError):
        compact_dataset(spark, src, dst, min_files=0)


def _file_span_coverage(path: str, col: str) -> float:
    """Average fraction of the column's global domain each file's
    [min, max] range covers — 1.0 means zone maps prune nothing."""
    import glob

    import pyarrow.parquet as pq

    spans = []
    for f in glob.glob(path + "/part-*.parquet"):
        md = pq.read_metadata(f)
        ci = md.schema.names.index(col)
        los = [md.row_group(i).column(ci).statistics.min
               for i in range(md.num_row_groups)]
        his = [md.row_group(i).column(ci).statistics.max
               for i in range(md.num_row_groups)]
        if los:
            spans.append((min(los), max(his)))
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    width = (hi - lo) or 1
    return sum((b - a) / width for a, b in spans) / len(spans)


def test_write_zordered_clusters_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER layout guard: a linear sort clusters only its
    leading column (the second dimension's per-file range covers the
    whole domain — zero pruning); the z-ordered write keeps BOTH
    dimensions' per-file ranges well below full coverage, the property
    that makes multi-dimension data skipping work. Content intact."""
    import pytest as _pt

    from mission_data_pipeline_spark.sinks.parquet import write_zordered

    df = spark.range(0, 40000).selectExpr(
        "cast(id * 2654435761 % 200 as long) as a",   # 200 devices
        "cast(id as long) as t",                       # time
        "cast(id % 7 as long) as payload",
    )
    lin, zo = str(tmp_path / "lin"), str(tmp_path / "zo")
    df.repartitionByRange(16, "a").sortWithinPartitions("a").write.parquet(lin)
    write_zordered(df, zo, zorder_cols=["a", "t"], n_files=16)

    assert _file_span_coverage(lin, "a") < 0.2      # leading dim clusters
    assert _file_span_coverage(lin, "t") > 0.9      # second dim: no pruning
    assert _file_span_coverage(zo, "a") < 0.6       # BOTH dims prune
    assert _file_span_coverage(zo, "t") < 0.6
    # semantic transparency: same multiset of rows
    assert (
        spark.read.parquet(zo).exceptAll(df).count() == 0
        and df.exceptAll(spark.read.parquet(zo)).count() == 0
    )
    with _pt.raises(ValueError):
        write_zordered(df, zo, zorder_cols=["a"], n_files=4)
    with _pt.raises(ValueError):
        write_zordered(df, zo, zorder_cols=["a", "t"], n_files=0)
