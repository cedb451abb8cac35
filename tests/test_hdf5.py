"""Pure-Python HDF5 subset source (S8): spec parser, distributed
reader, writer roundtrip, and parity against the reference's REAL
h5py-written fixture (rs/index_writer/resources/test.hdf5 — the file
hdf5.rs::test_hdf5_reader walks; our reader must see the same 1000
rows with doc_id = row index)."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

from muopdb_spark.sources.hdf5 import (
    probe_hdf5,
    read_hdf5_vectors,
    write_hdf5_vectors,
)

REF = "/root/reference/rs/index_writer/resources/test.hdf5"


def _vec_df(spark, mat, id_offset=0):
    return spark.createDataFrame(
        [(id_offset + i, [float(x) for x in mat[i]])
         for i in range(mat.shape[0])],
        "vec_id long, embedding array<float>",
    )


# ------------------------------------------------- reference file parity


@pytest.mark.skipif(not os.path.exists(REF), reason="reference fixture absent")
def test_probe_reference_h5py_file():
    meta = probe_hdf5(REF)
    assert set(meta) == {"test"}
    d = meta["test"]
    assert d.shape == (1000, 128) and d.dtype == "<f4"
    arr = np.fromfile(
        REF, dtype=d.dtype, count=1000 * 128, offset=d.data_offset
    ).reshape(1000, 128)
    assert np.isfinite(arr).all()
    # the fixture is uniform [0, 1) noise — a wrong data offset or
    # dtype would blow these bounds immediately
    assert 0.0 <= arr.min() and arr.max() < 1.0
    assert 0.45 < arr.mean() < 0.55


@pytest.mark.skipif(not os.path.exists(REF), reason="reference fixture absent")
def test_reference_file_row_scan_parity(spark):
    # hdf5.rs test_hdf5_reader: chunk_size 101 over "test" yields 1000
    # rows, ids = row index. Same contract, distributed.
    df = read_hdf5_vectors(spark, REF, dataset="test", rows_per_task=101)
    rows = df.orderBy("vec_id").collect()
    assert len(rows) == 1000
    assert [r.vec_id for r in rows[:3]] == [0, 1, 2]
    assert all(len(r.embedding) == 128 for r in rows[:5])
    # leading-slash dataset names resolve like the reference's "/train"
    assert read_hdf5_vectors(spark, REF, dataset="/test",
                             rows_per_task=500).count() == 1000


# ------------------------------------------------------ writer roundtrip


def test_write_read_roundtrip_exact(spark, tmp_path):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(100, 8)).astype(np.float32)
    p = str(tmp_path / "t.hdf5")
    assert write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train") == 100
    meta = probe_hdf5(p)
    assert meta["train"].shape == (100, 8) and meta["train"].dtype == "<f4"
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=17).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()
    assert [r.vec_id for r in back] == list(range(100))


def test_write_read_float64_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(20, 4)).astype(np.float32)
    p = str(tmp_path / "d.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="v", dtype="<f8")
    d = probe_hdf5(p)["v"]
    assert d.dtype == "<f8" and d.shape == (20, 4)
    back = read_hdf5_vectors(spark, p, dataset="v").orderBy("vec_id")
    got = np.array([r.embedding for r in back.collect()], dtype=np.float32)
    assert np.allclose(got, mat)


def test_id_offset_synthesis(spark, tmp_path):
    mat = np.ones((10, 3), dtype=np.float32)
    p = str(tmp_path / "o.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat, id_offset=50), p, dataset="x")
    ids = [r.vec_id for r in
           read_hdf5_vectors(spark, p, dataset="x", id_offset=50)
           .orderBy("vec_id").collect()]
    assert ids == list(range(50, 60))


# ------------------------------------------------------------ error paths


def test_missing_dataset_lists_available(spark, tmp_path):
    mat = np.zeros((3, 2), dtype=np.float32)
    p = str(tmp_path / "m.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train")
    with pytest.raises(KeyError, match="train"):
        read_hdf5_vectors(spark, p, dataset="nope")


def test_not_hdf5_rejected(tmp_path):
    p = str(tmp_path / "junk.hdf5")
    with open(p, "wb") as f:
        f.write(b"PAR1" + b"\x00" * 100)
    with pytest.raises(ValueError, match="signature"):
        probe_hdf5(p)


def test_compact_layout_named_in_error(spark, tmp_path):
    mat = np.zeros((4, 2), dtype=np.float32)
    p = str(tmp_path / "c.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train")
    # flip the layout message class byte (contiguous=1 -> compact=0):
    # the parser must refuse by NAME, not misread garbage
    off = probe_hdf5(p)  # sanity before patching
    assert off["train"].shape == (4, 2)
    raw = bytearray(open(p, "rb").read())
    marker = bytes([3, 1]) + off["train"].data_offset.to_bytes(8, "little")
    i = raw.find(marker)
    assert i > 0
    raw[i + 1] = 0
    with open(p, "wb") as f:
        f.write(raw)
    with pytest.raises(NotImplementedError, match="compact"):
        probe_hdf5(p)


def test_unsupported_filter_named_in_error(spark, tmp_path):
    mat = np.zeros((8, 4), dtype=np.float32)
    p = str(tmp_path / "f.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(8, 4), compression="gzip")
    # patch the pipeline's deflate filter id (1) to szip (4): the
    # parser must refuse by NAME, never hand zlib foreign bytes
    raw = bytearray(open(p, "rb").read())
    # v1 pipeline body starts [version=1, nfilters=1, 6 reserved, id..]
    marker = bytes([1, 1, 0, 0, 0, 0, 0, 0]) + (1).to_bytes(2, "little")
    i = raw.find(marker)
    assert i > 0
    raw[i + 8:i + 10] = (4).to_bytes(2, "little")
    with open(p, "wb") as f:
        f.write(raw)
    with pytest.raises(NotImplementedError, match="szip"):
        probe_hdf5(p)


def test_noncontiguous_ids_rejected(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, [1.0]), (2, [2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="contiguous"):
        write_hdf5_vectors(df, str(tmp_path / "bad.hdf5"))


def test_empty_write_rejected(spark, tmp_path):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        write_hdf5_vectors(df, str(tmp_path / "e.hdf5"))


# ------------------------------------------------- property: roundtrip


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(1, 40), dim=st.integers(1, 16),
       dtype=st.sampled_from(["<f4", "<f8", "<i4", "<i8"]),
       seed=st.integers(0, 2**31 - 1), offset=st.integers(0, 1000))
@pytest.mark.slow
def test_write_probe_read_roundtrip_property(spark, tmp_path_factory,
                                             n, dim, dtype, seed, offset):
    """Any (n, dim) matrix under any supported dtype survives
    write -> probe -> raw region read byte-exactly, and the
    distributed reader resynthesizes ids from the offset. Floats get
    planted NaN/inf: the format stores raw bits, nothing may
    canonicalize them."""
    rng = np.random.default_rng(seed)
    if dtype[1] == "f":
        mat = rng.normal(scale=100.0, size=(n, dim)).astype(np.float32)
        mat.flat[rng.integers(0, mat.size)] = np.inf
        mat.flat[rng.integers(0, mat.size)] = np.nan
    else:
        mat = rng.integers(-1000, 1000, size=(n, dim)).astype(np.float32)
    p = str(tmp_path_factory.mktemp("h5prop") / "p.hdf5")
    assert write_hdf5_vectors(
        _vec_df(spark, mat, id_offset=offset), p, dataset="d", dtype=dtype
    ) == n
    meta = probe_hdf5(p)["d"]
    assert meta.shape == (n, dim) and meta.dtype == dtype
    # raw contiguous region is exactly the dtype-cast matrix bits
    got = np.fromfile(p, dtype=np.dtype(dtype), count=n * dim,
                      offset=meta.data_offset).reshape(n, dim)
    assert got.tobytes() == mat.astype(np.dtype(dtype)).tobytes()
    # distributed reader: ids + float32 view of the values
    back = read_hdf5_vectors(spark, p, dataset="d", id_offset=offset,
                             rows_per_task=7).orderBy("vec_id").collect()
    assert [r.vec_id for r in back] == list(range(offset, offset + n))
    got2 = np.array([r.embedding for r in back], dtype=np.float32)
    exp2 = mat.astype(np.dtype(dtype)).astype(np.float32)
    assert (np.isnan(got2) == np.isnan(exp2)).all()
    m = ~np.isnan(exp2)
    assert (got2[m] == exp2[m]).all()


# ------------------------------------------- chunked layout + filters


def _mat_df(spark, seed=7, n=203, dim=17):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    return mat, _vec_df(spark, mat)


@pytest.mark.parametrize("kw", [
    dict(chunks=(50, 17)),                                  # plain chunked
    dict(compression="gzip"),                               # auto-chunked
    dict(compression="gzip", shuffle=True, fletcher32=True),
    dict(chunks=(40, 5), compression="gzip"),               # column-split
    dict(chunks=(64, 17), fletcher32=True),
    dict(compression="lzf"),                                # r12: LZF
    dict(chunks=(40, 5), compression="lzf", shuffle=True,
         fletcher32=True),
])
def test_chunked_roundtrip_exact(spark, tmp_path, kw):
    mat, df = _mat_df(spark)
    p = str(tmp_path / "c.hdf5")
    assert write_hdf5_vectors(df, p, dataset="train", **kw) == 203
    d = probe_hdf5(p)["train"]
    assert d.chunk_shape is not None and d.data_offset == -1
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=37).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()
    assert [r.vec_id for r in back] == list(range(203))


def test_chunked_multilevel_btree(spark, tmp_path):
    # 102 x 6 = 612 chunks > the 64-entry node cap: forces a 2-level
    # v1 B-tree; tiny chunks also force incompressible-chunk filter
    # masks (deflate is optional — raw storage with the mask bit set)
    mat, df = _mat_df(spark)
    p = str(tmp_path / "m.hdf5")
    write_hdf5_vectors(df, p, dataset="train", chunks=(2, 3),
                       compression="gzip")
    d = probe_hdf5(p)["train"]
    assert len(d.chunks) == 102 * 6
    assert any(mask != 0 for _, _, _, mask in d.chunks)  # mask exercised
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=50).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()


def test_chunked_missing_chunk_reads_fill_zeros(spark, tmp_path):
    # drop the last chunk from the B-tree (entries-used -= 1): the
    # reader must produce the 0 fill value, not fail or misread
    mat = np.ones((10, 4), dtype=np.float32)
    p = str(tmp_path / "s.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(2, 4))
    d = probe_hdf5(p)["train"]
    assert len(d.chunks) == 5
    raw = bytearray(open(p, "rb").read())
    # single leaf node: TREE + type(1) + level(0) + used(2 LE)
    i = raw.find(b"TREE" + bytes([1, 0]) + (5).to_bytes(2, "little"))
    assert i > 0
    raw[i + 6:i + 8] = (4).to_bytes(2, "little")
    with open(p, "wb") as f:
        f.write(raw)
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=4).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got[:8] == 1.0).all() and (got[8:] == 0.0).all()


def test_fletcher32_detects_corruption(spark, tmp_path):
    mat = np.ones((16, 8), dtype=np.float32) * 3.5
    p = str(tmp_path / "x.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(16, 8), fletcher32=True)
    d = probe_hdf5(p)["train"]
    (_, off, nb, _), = d.chunks
    raw = bytearray(open(p, "rb").read())
    raw[off + 10] ^= 0xFF  # flip a data byte inside the chunk
    with open(p, "wb") as f:
        f.write(raw)
    with pytest.raises(Exception, match="fletcher32"):
        read_hdf5_vectors(spark, p, dataset="train").collect()


def test_unknown_compression_rejected(spark, tmp_path):
    mat = np.zeros((2, 2), dtype=np.float32)
    with pytest.raises(NotImplementedError, match="gzip"):
        write_hdf5_vectors(_vec_df(spark, mat), str(tmp_path / "z.hdf5"),
                           compression="szip")


def test_chunk_shape_validated(spark, tmp_path):
    mat = np.zeros((4, 2), dtype=np.float32)
    with pytest.raises(ValueError, match="chunk shape"):
        write_hdf5_vectors(_vec_df(spark, mat), str(tmp_path / "b.hdf5"),
                           chunks=(8, 2))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(1, 60), dim=st.integers(1, 12),
       cr=st.integers(1, 70), cc=st.integers(1, 14),
       gz=st.booleans(), shuf=st.booleans(), fl=st.booleans(),
       seed=st.integers(0, 2**31 - 1))
@pytest.mark.slow
def test_chunked_roundtrip_property(spark, tmp_path_factory,
                                    n, dim, cr, cc, gz, shuf, fl, seed):
    """Any chunk grid (edge chunks, column splits) under any filter
    combination survives write -> read bit-exactly, NaN/inf included."""
    cr, cc = min(cr, n), min(cc, dim)
    rng = np.random.default_rng(seed)
    mat = rng.normal(scale=100.0, size=(n, dim)).astype(np.float32)
    mat.flat[rng.integers(0, mat.size)] = np.inf
    mat.flat[rng.integers(0, mat.size)] = np.nan
    p = str(tmp_path_factory.mktemp("h5chunk") / "c.hdf5")
    write_hdf5_vectors(
        _vec_df(spark, mat), p, dataset="d", chunks=(cr, cc),
        compression="gzip" if gz else None, shuffle=shuf, fletcher32=fl,
    )
    d = probe_hdf5(p)["d"]
    assert d.chunk_shape == (cr, cc)
    assert len(d.chunks) == -(-n // cr) * -(-dim // cc)
    back = read_hdf5_vectors(spark, p, dataset="d",
                             rows_per_task=13).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert got.tobytes() == mat.tobytes()


# ------------------------------------------------ sharded writer/reader


def test_sharded_roundtrip_and_manifest(spark, tmp_path):
    from muopdb_spark.sources.hdf5 import (
        read_hdf5_sharded,
        write_hdf5_sharded,
    )

    mat, df = _mat_df(spark, seed=3, n=777, dim=9)
    out = str(tmp_path / "sh")
    man = write_hdf5_sharded(df, out, rows_per_shard=100)
    assert man["total_rows"] == 777 and len(man["shards"]) == 8
    assert man["shards"][-1]["rows"] == 77  # only the last is partial
    back = read_hdf5_sharded(spark, out).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()
    assert [r.vec_id for r in back] == list(range(777))
    # every part file is an independently valid single-dataset HDF5
    p0 = str(tmp_path / "sh" / man["shards"][2]["file"])
    d = probe_hdf5(p0)["train"]
    assert d.shape == (100, 9)
    solo = read_hdf5_vectors(spark, p0, dataset="train",
                             id_offset=200).orderBy("vec_id").collect()
    assert [r.vec_id for r in solo] == list(range(200, 300))
    assert (np.array([r.embedding for r in solo], dtype=np.float32)
            == mat[200:300]).all()


def test_sharded_filters_roundtrip(spark, tmp_path):
    from muopdb_spark.sources.hdf5 import (
        read_hdf5_sharded,
        write_hdf5_sharded,
    )

    mat, df = _mat_df(spark, seed=5, n=250, dim=6)
    out = str(tmp_path / "gz")
    write_hdf5_sharded(df, out, rows_per_shard=64, compression="gzip",
                       shuffle=True, fletcher32=True)
    back = read_hdf5_sharded(spark, out).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()


def test_sharded_noncontiguous_ids_rejected(spark, tmp_path):
    from muopdb_spark.sources.hdf5 import write_hdf5_sharded

    df = spark.createDataFrame(
        [(0, [1.0]), (2, [2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="contiguous"):
        write_hdf5_sharded(df, str(tmp_path / "bad"), rows_per_shard=10)


def test_fill_value_honored_for_missing_chunks(spark, tmp_path):
    # a DEFINED non-zero fill value (message 0x0005, h5py fillvalue=)
    # must be what an unwritten chunk reads back as — zeros would be a
    # silent misread
    mat = np.ones((10, 4), dtype=np.float32) * 2.0
    p = str(tmp_path / "fv.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(2, 4), fillvalue=7.5)
    d = probe_hdf5(p)["train"]
    assert np.frombuffer(d.fill, dtype="<f4")[0] == 7.5
    raw = bytearray(open(p, "rb").read())
    i = raw.find(b"TREE" + bytes([1, 0]) + (5).to_bytes(2, "little"))
    assert i > 0
    raw[i + 6:i + 8] = (4).to_bytes(2, "little")  # drop the last chunk
    with open(p, "wb") as f:
        f.write(raw)
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=100).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got[:8] == 2.0).all() and (got[8:] == 7.5).all()
    # sharded-reader twin uses the same assembly helper
    from muopdb_spark.sources.hdf5 import _read_dataset_matrix
    m2 = _read_dataset_matrix(p, probe_hdf5(p)["train"])
    assert (m2[8:] == 7.5).all()


def test_pipeline_message_v2_parsing():
    # v2 pipeline messages (libhdf5 "latest" libver): no reserved
    # block, and filters with id < 256 carry no name-length field
    from muopdb_spark.sources.hdf5 import _Parser

    p = object.__new__(_Parser)
    p.path = "<mem>"
    body = (bytes([2, 2])                      # version 2, two filters
            + (2).to_bytes(2, "little")        # shuffle
            + (0).to_bytes(2, "little")        # flags
            + (1).to_bytes(2, "little")        # 1 client datum
            + (4).to_bytes(4, "little")        # elem size 4
            + (1).to_bytes(2, "little")        # deflate
            + (1).to_bytes(2, "little")        # optional
            + (1).to_bytes(2, "little")
            + (6).to_bytes(4, "little"))       # level 6
    assert p._pipeline(body, "d") == [
        (2, "", 0, (4,)), (1, "", 1, (6,)),
    ]
    # id >= 256 carries a name-length field; lzf (32000) is supported
    # since r12, so it PARSES...
    lzf = (bytes([2, 1])
           + (32000).to_bytes(2, "little")
           + (8).to_bytes(2, "little")         # name length
           + (1).to_bytes(2, "little")
           + (0).to_bytes(2, "little")
           + b"lzf\x00\x00\x00\x00\x00")
    assert p._pipeline(lzf, "d") == [(32000, "lzf", 1, ())]
    # ...while an unregistered id >= 256 still refuses by name
    blosc = (bytes([2, 1])
             + (32001).to_bytes(2, "little")
             + (8).to_bytes(2, "little")
             + (1).to_bytes(2, "little")
             + (0).to_bytes(2, "little")
             + b"blosc\x00\x00\x00")
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="blosc"):
        p._pipeline(blosc, "d")


def test_chunked_three_level_btree(spark, tmp_path):
    # 130 x 32 with 1x1 chunks = 4160 chunks > 64^2: forces THREE
    # B-tree levels (leaves / internal / root) — pins the level-L
    # first-key and child-address arithmetic beyond two levels
    rng = np.random.default_rng(13)
    mat = rng.integers(-99, 99, size=(130, 32)).astype(np.float32)
    p = str(tmp_path / "deep.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="d",
                       dtype="<i4", chunks=(1, 1))
    d = probe_hdf5(p)["d"]
    assert len(d.chunks) == 130 * 32
    back = read_hdf5_vectors(spark, p, dataset="d",
                             rows_per_task=64).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()


def test_fletcher32_blockwise_matches_exact_math():
    # the s2 accumulation is blockwise (2^20-word blocks) so large
    # chunks don't wrap uint64; verify across multiple blocks against
    # exact Python-int math on a 3.5M-word buffer
    from muopdb_spark.sources.hdf5 import _fletcher32

    rng = np.random.default_rng(5)
    data = rng.integers(0, 256, size=7_000_001, dtype=np.uint8).tobytes()
    got = _fletcher32(data)
    b = np.frombuffer(data, np.uint8)
    nw = len(b) // 2
    w = ((b[:nw * 2:2].astype(object) * 256) + b[1:nw * 2:2]).tolist()
    if len(b) % 2:
        w.append(int(b[-1]) << 8)
    s1 = sum(w)
    s2 = sum(v * (len(w) - i) for i, v in enumerate(w))
    f1 = s1 % 65535 or (0xFFFF if s1 else 0)
    f2 = s2 % 65535 or (0xFFFF if s2 else 0)
    assert got == ((f2 << 16) | f1)

def test_unaligned_chunk_coord_rejected(spark, tmp_path):
    # r11 ADVICE: a B-tree key whose chunk coordinate is off the chunk
    # grid (or outside the dataset shape) must raise at probe time —
    # the readers assemble output by looking chunks up AT grid
    # positions, so such a chunk would otherwise be silently dropped
    # and read back as fill (a silent misread).
    mat = np.ones((10, 4), dtype=np.float32)
    p = str(tmp_path / "u.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(2, 4))
    raw0 = open(p, "rb").read()
    i = raw0.find(b"TREE" + bytes([1, 0]) + (5).to_bytes(2, "little"))
    assert i > 0
    # leaf entry layout: 24-byte header, then per entry
    # key(nbytes 4 | mask 4 | coords (rank+1)*8) + child(8) = 40 bytes;
    # second entry's ROW coordinate sits at +24 + 40 + 8
    row_at = i + 24 + 40 + 8
    assert raw0[row_at:row_at + 8] == (2).to_bytes(8, "little")

    for bad in (3, 12):  # off-grid; aligned but beyond shape[0]=10
        raw = bytearray(raw0)
        raw[row_at:row_at + 8] = bad.to_bytes(8, "little")
        with open(p, "wb") as f:
            f.write(raw)
        with pytest.raises(ValueError, match="grid-aligned"):
            probe_hdf5(p)

# --------------------------------------------------------- LZF filter


def test_lzf_codec_roundtrip_and_hardening():
    from muopdb_spark.sources.hdf5 import _lzf_compress, _lzf_decompress

    rng = np.random.default_rng(0)
    cases = [
        b"", b"a", b"abc" * 5000,
        bytes(rng.integers(0, 256, 100000, dtype=np.uint8)),  # random
        bytes(10000),                  # zeros: overlapping RLE copies
        bytes(rng.integers(0, 4, 50000, dtype=np.uint8)),
        b"x" * 300,                    # run longer than one match (264)
        bytes(range(256)) * 40,        # distance-256 periodic refs
    ]
    for d in cases:
        assert _lzf_decompress(_lzf_compress(d)) == d
    # low-entropy input genuinely compresses (back-references taken)
    assert len(_lzf_compress(bytes(10000))) < 200
    # malformed streams raise, never misread
    for bad in (b"\x05ab",            # literal run past end
                b"\xe0",              # truncated extended length
                b"\xe0\x01",          # truncated back-reference
                b"\x20\x00\x00"):     # reference before stream start
        with pytest.raises(ValueError, match="lzf"):
            _lzf_decompress(bad)


def test_lzf_incompressible_chunk_stores_raw_with_mask(spark, tmp_path):
    # random float32 bytes do not LZF-compress; the OPTIONAL flag must
    # store such chunks raw with the filter-mask bit set — and the
    # reader must honor the mask instead of un-LZFing raw bytes
    rng = np.random.default_rng(99)
    mat = rng.normal(size=(32, 16)).astype(np.float32)
    p = str(tmp_path / "l.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(8, 16), compression="lzf")
    d = probe_hdf5(p)["train"]
    assert any(mask != 0 for *_x, mask in d.chunks), d.chunks
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=8).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()


def test_lzf_compressible_data_roundtrip(spark, tmp_path):
    # constant-ish integer columns compress hard through LZF; checks
    # the compressed path end to end (chunks genuinely smaller)
    mat = np.tile(np.arange(16, dtype=np.float32), (64, 1))
    p = str(tmp_path / "lc.hdf5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunks=(16, 16), compression="lzf")
    d = probe_hdf5(p)["train"]
    assert all(mask == 0 for *_x, mask in d.chunks)
    assert all(nb < 16 * 16 * 4 for _c, _o, nb, _m in d.chunks)
    back = read_hdf5_vectors(spark, p, dataset="train",
                             rows_per_task=20).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert (got == mat).all()

def test_ragged_embeddings_rejected(spark, tmp_path):
    # r12 review: the streaming writer must keep np.stack's old
    # strictness — a short embedding may not broadcast silently
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="ragged"):
        write_hdf5_vectors(df, str(tmp_path / "r.hdf5"))


@pytest.mark.slow
def test_probe_mutation_fuzz_only_named_refusals():
    """r16 mutation-fuzz hardening (the decode_jpeg rule): corrupting
    metadata bytes of a valid file must yield a parse, a ValueError
    (incl. subclasses), or a NotImplementedError — never a raw
    KeyError / OSError(negative seek) / struct.error out of the walk."""
    import random

    from muopdb_spark.sources.hdf5 import probe_hdf5

    if not os.path.exists(REF):
        pytest.skip("reference fixture absent")
    rng = random.Random(41)
    full = open(REF, "rb").read()
    mp = os.path.join(tempfile.mkdtemp(), "m.h5")
    for _ in range(250):
        b = bytearray(full)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(8192)] = rng.randrange(256)
        open(mp, "wb").write(bytes(b))
        try:
            probe_hdf5(mp)
        except (ValueError, NotImplementedError):
            pass  # the only legal refusals


# ------------------------------------------- v4 layout / chunk indexes
#
# No libhdf5 ships in this environment, so v4 fixtures come from this
# module's own spec-derived writer (superblock v3 + v2 object headers +
# the five typed chunk indexes). The shared-misunderstanding risk is
# bounded three ways: the lookup3 checksum implementation is pinned to
# the published lookup3.c self-test vectors, every v4 block offset is
# cross-validated against independently computed geometry on read, and
# the v1 path (which IS parity-tested against the reference's real
# h5py file) shares the datatype/dataspace/filter codecs.


def test_lookup3_pinned_vectors():
    # published self-test vectors from Bob Jenkins' lookup3.c
    from muopdb_spark.sources.hdf5 import _lookup3

    assert _lookup3(b"") == 0xDEADBEEF
    assert _lookup3(b"", 0xDEADBEEF) == 0xBD5B7DDE
    assert _lookup3(b"Four score and seven years ago") == 0x17770551
    assert _lookup3(b"Four score and seven years ago", 1) == 0xCD628161


@pytest.mark.parametrize("idx,kw", [
    ("single", {}),
    ("implicit", {"chunks": (16, 7)}),
    ("fixed_array", {"chunks": (16, 7), "compression": "gzip",
                     "shuffle": True}),
    ("ext_array", {"chunks": (16, 7), "compression": "lzf"}),
    ("btree2", {"chunks": (16, 7), "fletcher32": True}),
])
def test_v4_spark_roundtrip_exact(spark, tmp_path, idx, kw):
    rng = np.random.default_rng(13)
    mat = rng.normal(size=(100, 7)).astype(np.float32)
    p = str(tmp_path / f"v4_{idx}.h5")
    write_hdf5_vectors(_vec_df(spark, mat), p, dataset="train",
                       chunk_index=idx, **kw)
    d = probe_hdf5(p)["train"]
    assert d.shape == (100, 7) and d.chunk_shape is not None
    back = read_hdf5_vectors(spark, p, dataset="train", rows_per_task=17)
    rows = back.orderBy("vec_id").collect()
    assert len(rows) == 100
    got = np.array([r.embedding for r in rows], dtype=np.float32)
    assert np.array_equal(got, mat)


def test_v4_exotic_geometries_roundtrip(tmp_path):
    """Driver-side matrix roundtrips through the hard index shapes:
    depth>=2 v2 B-trees (cumulative-count child pointers), paged fixed
    arrays, extensible arrays deep enough to need secondary blocks and
    paged data blocks."""
    from muopdb_spark.sources.hdf5 import (
        _read_dataset_matrix,
        _write_hdf5_matrix_v4,
    )

    rng = np.random.default_rng(23)
    mat = rng.normal(size=(57, 9)).astype("<f4")
    big = rng.normal(size=(600, 4)).astype("<f4")
    cases = [
        (mat, "btree2", {"chunks": (1, 1), "bt2_node_size": 512}),
        (big, "btree2", {"chunks": (1, 1), "bt2_node_size": 256,
                         "compression": "gzip"}),
        (mat, "fixed_array", {"chunks": (2, 9), "fa_page_bits": 3}),
        (big, "ext_array", {"chunks": (1, 4),
                            "ea_params": (32, 4, 4, 4, 4)}),
        (mat, "ext_array", {"chunks": (1, 3), "compression": "lzf"}),
        (mat, "single", {"compression": "gzip", "shuffle": True}),
    ]
    for m0, idx, kw in cases:
        p = str(tmp_path / "x.h5")
        _write_hdf5_matrix_v4(p, "train", m0, index=idx, **kw)
        back = _read_dataset_matrix(p, probe_hdf5(p)["train"])
        assert np.array_equal(back, m0), (idx, kw)


def test_v4_unallocated_chunks_read_fill(tmp_path):
    """Omitted chunks (undefined element addresses / absent B-tree
    records) read as the defined fill value, else zeros — across all
    three array/B-tree indexes."""
    from muopdb_spark.sources.hdf5 import (
        _read_dataset_matrix,
        _write_hdf5_matrix_v4,
    )

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(24, 6)).astype("<f4")
    for idx, kw in [
        ("fixed_array", {}),
        ("fixed_array", {"fa_page_bits": 2}),  # paged: bitmap path
        ("ext_array", {}),
        ("btree2", {}),
    ]:
        for fv in (None, 7.25):
            p = str(tmp_path / "x.h5")
            _write_hdf5_matrix_v4(
                p, "train", mat, index=idx, chunks=(8, 6),
                omit_chunks={1}, fillvalue=fv, **kw,
            )
            back = _read_dataset_matrix(p, probe_hdf5(p)["train"])
            exp = mat.copy()
            exp[8:16, :] = 0.0 if fv is None else fv
            assert np.array_equal(back, exp), (idx, kw, fv)


def test_v4_checksum_corruption_detected(tmp_path):
    """Every v4 metadata block is lookup3-verified: a flipped byte in
    the fixed-array data block is a named ValueError, not a misread."""
    from muopdb_spark.sources.hdf5 import _write_hdf5_matrix_v4

    rng = np.random.default_rng(3)
    mat = rng.normal(size=(40, 5)).astype("<f4")
    p = str(tmp_path / "x.h5")
    _write_hdf5_matrix_v4(p, "train", mat, index="fixed_array",
                          chunks=(8, 5))
    blob = bytearray(open(p, "rb").read())
    at = blob.rindex(b"FADB") + 10  # inside the element area
    blob[at] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        probe_hdf5(p)


def test_v4_unknown_index_type_named(tmp_path):
    from muopdb_spark.sources.hdf5 import _write_hdf5_matrix_v4

    mat = np.ones((8, 3), dtype="<f4")
    p = str(tmp_path / "x.h5")
    _write_hdf5_matrix_v4(p, "train", mat, index="fixed_array",
                          chunks=(4, 3))
    import struct

    from muopdb_spark.sources.hdf5 import _lookup3

    blob = bytearray(open(p, "rb").read())
    sig = bytes([4, 2, 0, 3, 8])  # v4 chunked layout message head
    at = blob.index(sig) + 5 + 24  # skip the three 8-byte chunk dims
    assert blob[at] == 3  # fixed array
    blob[at] = 6
    # re-stamp the dataset object header's checksum so the refusal
    # exercised is the index-type gate, not the checksum gate
    oh = blob.rindex(b"OHDR", 0, at)
    chunk0 = struct.unpack_from("<I", blob, oh + 6)[0]
    end = oh + 10 + chunk0
    struct.pack_into("<I", blob, end, _lookup3(bytes(blob[oh:end])))
    open(p, "wb").write(bytes(blob))
    with pytest.raises(NotImplementedError, match="index type 6"):
        probe_hdf5(p)


def test_ohdr_v2_trailing_small_message_not_dropped(tmp_path):
    """The stored chunk-0 size excludes the trailing checksum
    (H5O_SIZEOF_HDR accounts it separately): a final message shorter
    than 8 bytes must still be parsed. The pre-r16 reader treated the
    size as checksum-inclusive and silently dropped it."""
    import struct

    from muopdb_spark.sources.hdf5 import _Parser, _lookup3

    body = struct.pack("<BHB", 0x0E, 2, 0) + b"\x07\x07"
    hdr = b"OHDR" + bytes([2, 0x02]) + struct.pack("<I", len(body)) + body
    p = str(tmp_path / "h.bin")
    open(p, "wb").write(hdr + struct.pack("<I", _lookup3(hdr)))
    parser = _Parser(p)
    try:
        msgs = parser._ohdr_v2_messages(0)
    finally:
        parser.f.close()
    assert (0x0E, b"\x07\x07") in msgs


def test_ohdr_v2_bad_checksum_rejected(tmp_path):
    import struct

    from muopdb_spark.sources.hdf5 import _Parser, _lookup3

    body = struct.pack("<BHB", 0x0E, 2, 0) + b"\x07\x07"
    hdr = b"OHDR" + bytes([2, 0x02]) + struct.pack("<I", len(body)) + body
    p = str(tmp_path / "h.bin")
    open(p, "wb").write(hdr + struct.pack("<I", _lookup3(hdr) ^ 1))
    parser = _Parser(p)
    try:
        with pytest.raises(ValueError, match="checksum"):
            parser._ohdr_v2_messages(0)
    finally:
        parser.f.close()


@pytest.mark.slow
def test_v4_mutation_fuzz_only_named_refusals(tmp_path):
    """The decode_jpeg rule, extended to the v4 structures: corrupting
    metadata of a valid v4 file yields a parse, ValueError, or
    NotImplementedError — never an engine-crash-shaped raw error."""
    import random

    from muopdb_spark.sources.hdf5 import _write_hdf5_matrix_v4

    rng = random.Random(47)
    mats = np.random.default_rng(11).normal(size=(48, 6)).astype("<f4")
    originals = []
    for idx in ("single", "implicit", "fixed_array", "ext_array",
                "btree2"):
        p = str(tmp_path / f"{idx}.h5")
        kw = {"chunks": (8, 6)} if idx != "single" else {}
        m0 = mats if idx != "single" else mats[:8]
        _write_hdf5_matrix_v4(p, "train", m0, index=idx, **kw)
        originals.append(open(p, "rb").read())
    mp = str(tmp_path / "m.h5")
    for full in originals:
        for _ in range(120):
            b = bytearray(full)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(min(len(b), 8192))] = rng.randrange(256)
            open(mp, "wb").write(bytes(b))
            try:
                probe_hdf5(mp)
            except (ValueError, NotImplementedError):
                pass  # the only legal refusals


def test_v4_sharded_roundtrip(spark, tmp_path):
    from muopdb_spark.sources.hdf5 import (
        read_hdf5_sharded,
        write_hdf5_sharded,
    )

    rng = np.random.default_rng(31)
    mat = rng.normal(size=(90, 5)).astype(np.float32)
    d = str(tmp_path / "sh")
    write_hdf5_sharded(_vec_df(spark, mat), d, rows_per_shard=32,
                       chunk_index="fixed_array", compression="gzip",
                       chunks=(8, 5))
    back = read_hdf5_sharded(spark, d).orderBy("vec_id").collect()
    got = np.array([r.embedding for r in back], dtype=np.float32)
    assert np.array_equal(got, mat)


@settings(max_examples=14, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(1, 70), dim=st.integers(1, 12),
       cr=st.integers(1, 20), cc=st.integers(1, 12),
       idx=st.sampled_from(["fixed_array", "ext_array", "btree2"]),
       comp=st.sampled_from([None, "gzip", "lzf"]),
       shuf=st.booleans(), fl=st.booleans(),
       small=st.booleans(), seed=st.integers(0, 2**32 - 1))
@pytest.mark.slow
def test_v4_roundtrip_property(tmp_path_factory, n, dim, cr, cc, idx,
                               comp, shuf, fl, small, seed):
    """Any chunk grid under any filter stack through any v4 array/
    B-tree index — with deliberately tiny page/node parameters half
    the time, so paging and multi-node trees are exercised at fuzz
    scale — survives write -> probe -> assemble bit-exactly,
    NaN/inf included (driver-side matrix path; the Spark read path
    shares _decode_chunk/chunk lists and has its own tests)."""
    from muopdb_spark.sources.hdf5 import (
        _read_dataset_matrix,
        _write_hdf5_matrix_v4,
    )

    cr, cc = min(cr, n), min(cc, dim)
    rng = np.random.default_rng(seed)
    mat = rng.normal(scale=100.0, size=(n, dim)).astype(np.float32)
    mat.flat[rng.integers(0, mat.size)] = np.inf
    mat.flat[rng.integers(0, mat.size)] = np.nan
    kw = {}
    if small:
        # ea page_bits 4: the smallest page that keeps index-block-
        # direct data blocks unpaged (dmin * smin = 16 elements) —
        # the writer refuses the paged-direct shape libhdf5 never emits
        kw = {"fa_page_bits": 2, "ea_params": (32, 4, 4, 4, 4),
              "bt2_node_size": 256}
    p = str(tmp_path_factory.mktemp("h5v4") / "v.h5")
    _write_hdf5_matrix_v4(
        p, "d", mat, index=idx, chunks=(cr, cc), compression=comp,
        shuffle=shuf, fletcher32=fl, **kw,
    )
    d = probe_hdf5(p)["d"]
    assert d.chunk_shape == (cr, cc)
    got = _read_dataset_matrix(p, d)
    assert got.tobytes() == mat.tobytes()


# ------------------------------------------------- dense (r16) groups


def _dense_mats(k, seed=3):
    rng = np.random.default_rng(seed)
    return {f"ds{i:03d}": rng.normal(size=(3 + i % 5, 4)).astype("<f4")
            for i in range(k)}


def test_dense_group_roundtrip_all_shapes(tmp_path):
    """Dense-link groups (fractal heap + type-5 name index) across the
    structural shapes: root direct block, doubled root, indirect root
    over doubling-table rows, uncheck-summed blocks, and a multi-node
    (depth>=1) name B-tree. Pre-r16 these files probed as EMPTY groups
    — a silent misread of every dataset inside."""
    from muopdb_spark.sources.hdf5 import (
        _read_dataset_matrix,
        _write_hdf5_dense_group,
    )

    cases = [
        (6, {}),                                            # root direct
        (40, {"start_block_size": 128, "max_direct_size": 512,
              "width": 3}),                                 # indirect root
        (40, {"checksum_dblocks": False, "start_block_size": 128,
              "max_direct_size": 1024}),
        (40, {"bt2_node_size": 128}),                       # deep name tree
    ]
    for k, kw in cases:
        mats = _dense_mats(k)
        p = str(tmp_path / "g.h5")
        _write_hdf5_dense_group(p, mats, **kw)
        meta = probe_hdf5(p)
        assert set(meta) == set(mats), (kw, sorted(meta)[:3])
        for nm, m in mats.items():
            assert np.array_equal(_read_dataset_matrix(p, meta[nm]), m)


def test_dense_group_spark_read(spark, tmp_path):
    from muopdb_spark.sources.hdf5 import _write_hdf5_dense_group

    mats = _dense_mats(12)
    p = str(tmp_path / "g.h5")
    _write_hdf5_dense_group(p, mats, start_block_size=128,
                            max_direct_size=512)
    back = read_hdf5_vectors(spark, p, dataset="ds007", rows_per_task=2)
    got = np.array([r.embedding for r in back.orderBy("vec_id").collect()],
                   dtype=np.float32)
    assert np.array_equal(got, mats["ds007"])


def test_dense_group_direct_block_corruption_detected(tmp_path):
    from muopdb_spark.sources.hdf5 import _write_hdf5_dense_group

    p = str(tmp_path / "g.h5")
    _write_hdf5_dense_group(p, _dense_mats(6))
    blob = bytearray(open(p, "rb").read())
    at = blob.rindex(b"FHDB") + 30  # inside the link-message payload
    blob[at] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="checksum"):
        probe_hdf5(p)


def test_dense_group_huge_object_refused_by_name(tmp_path):
    """Heap IDs of the huge/undefined types refuse by name (they need
    the huge-object B-tree this fixture writer never emits)."""
    from muopdb_spark.sources.hdf5 import (
        _Parser,
        _write_hdf5_dense_group,
    )

    p = str(tmp_path / "g.h5")
    _write_hdf5_dense_group(p, _dense_mats(4))
    parser = _Parser(p)
    try:
        # locate the heap through the real file, then probe the getter
        blob = open(p, "rb").read()
        fh = blob.index(b"FRHP")
        getter = parser._fheap_getter(fh, "/")
        with pytest.raises(NotImplementedError, match="huge"):
            getter(bytes([0x20]) + b"\x00" * 6)
        # tiny IDs carry their payload inline
        assert getter(bytes([0x10 | 2]) + b"abc\x00\x00\x00") == b"abc"
    finally:
        parser.f.close()


@pytest.mark.slow
def test_dense_group_mutation_fuzz_only_named_refusals(tmp_path):
    import random

    from muopdb_spark.sources.hdf5 import _write_hdf5_dense_group

    p = str(tmp_path / "g.h5")
    _write_hdf5_dense_group(p, _dense_mats(25), start_block_size=128,
                            max_direct_size=512)
    full = open(p, "rb").read()
    rng = random.Random(53)
    mp = str(tmp_path / "m.h5")
    for _ in range(250):
        b = bytearray(full)
        for _ in range(rng.randint(1, 6)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        open(mp, "wb").write(bytes(b))
        try:
            probe_hdf5(mp)
        except (ValueError, NotImplementedError):
            pass  # the only legal refusals


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(k=st.integers(1, 48), start=st.sampled_from([128, 256, 512]),
       maxd=st.sampled_from([512, 1024, 4096]),
       width=st.integers(2, 5), cs=st.booleans(),
       node=st.sampled_from([128, 512]),
       seed=st.integers(0, 2**32 - 1))
@pytest.mark.slow
def test_dense_group_roundtrip_property(tmp_path_factory, k, start, maxd,
                                        width, cs, node, seed):
    """Any link count across any heap geometry (root direct incl.
    doubling, indirect roots, narrow widths, checksummed or not,
    multi-node name trees) probes back every dataset bit-exactly."""
    from muopdb_spark.sources.hdf5 import (
        _read_dataset_matrix,
        _write_hdf5_dense_group,
    )

    if maxd < start:
        maxd = start
    rng = np.random.default_rng(seed)
    mats = {
        f"d{i:04d}": rng.normal(size=(1 + i % 4, 3)).astype("<f4")
        for i in range(k)
    }
    p = str(tmp_path_factory.mktemp("h5dg") / "g.h5")
    _write_hdf5_dense_group(
        p, mats, start_block_size=start, max_direct_size=maxd,
        width=width, checksum_dblocks=cs, bt2_node_size=node,
    )
    meta = probe_hdf5(p)
    assert set(meta) == set(mats)
    for nm, m in mats.items():
        assert np.array_equal(_read_dataset_matrix(p, meta[nm]), m)
