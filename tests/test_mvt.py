"""MVT sink (operators/mvt.py): bytes decoded back with an independent
minimal protobuf reader; varint SQL accounting cross-checked against
the Python encoder."""

import duckdb
import pytest

from gdal_spark.operators.mvt import (
    EXTENT,
    _varint,
    _zigzag,
    encode_mvt_tiles,
    mvt_point_tile,
    sql_varint_bytesum,
    sql_varint_len,
)


def _read_varint(b, pos):
    shift, val = 0, 0
    while True:
        x = b[pos]
        pos += 1
        val |= (x & 0x7F) << shift
        if not (x & 0x80):
            return val, pos
        shift += 7


def decode_point_tile(blob: bytes):
    """Independent decoder: parse Tile -> Layer -> features."""
    tag, pos = _read_varint(blob, 0)
    assert tag == (3 << 3) | 2  # Tile.layers
    llen, pos = _read_varint(blob, pos)
    layer = blob[pos:pos + llen]
    assert pos + llen == len(blob)
    p = 0
    name = None
    extent = None
    version = None
    feats = []
    while p < len(layer):
        tag, p = _read_varint(layer, p)
        field, wt = tag >> 3, tag & 7
        if wt == 2:
            ln, p = _read_varint(layer, p)
            payload = layer[p:p + ln]
            p += ln
            if field == 1:
                name = payload.decode()
            elif field == 2:
                q = 0
                fid = typ = None
                geom = []
                while q < len(payload):
                    t2, q = _read_varint(payload, q)
                    f2, w2 = t2 >> 3, t2 & 7
                    if w2 == 0:
                        v, q = _read_varint(payload, q)
                        if f2 == 1:
                            fid = v
                        elif f2 == 3:
                            typ = v
                    else:
                        gl, q = _read_varint(payload, q)
                        end = q + gl
                        while q < end:
                            v, q = _read_varint(payload, q)
                            geom.append(v)
                assert typ == 1
                assert geom[0] == 9  # MoveTo, count 1
                zx, zy = geom[1], geom[2]
                feats.append((fid, zx >> 1, zy >> 1))
        else:
            v, p = _read_varint(layer, p)
            if field == 5:
                extent = v
            elif field == 15:
                version = v
    assert (name, extent, version) == ("points", EXTENT, 2)
    return feats


class TestEncoder:
    def test_round_trip(self):
        feats = [(5, 100, 4095), (1, 0, 0), (300000, 63, 64)]
        blob = mvt_point_tile(feats)
        assert decode_point_tile(blob) == sorted(feats)

    def test_varint_sql_accounting(self):
        con = duckdb.connect()
        for n in (0, 1, 127, 128, 5000, 16383, 16384, 2097151, 2097152,
                  268435455, 268435456, 10**12):
            ln = con.execute(
                f"SELECT {sql_varint_len(str(n))}"
            ).fetchone()[0]
            bs = con.execute(
                f"SELECT {sql_varint_bytesum(str(n))}"
            ).fetchone()[0]
            raw = _varint(n)
            if n < 2 ** 35:  # the 5-byte CASE arm covers this range
                assert ln == len(raw), n
                assert bs == sum(raw), n

    def test_zigzag(self):
        assert _zigzag(0) == 0
        assert _zigzag(1) == 2
        assert _zigzag(4095) == 8190


class TestSpark:
    def test_spark_matches_local(self, spark):
        pts = spark.createDataFrame(
            [(0, 0, 7, 10, 20), (0, 0, 3, 4000, 1), (1, 0, 9, 0, 0)],
            "tx bigint, ty bigint, fid bigint, px bigint, py bigint",
        )
        out = {
            (r["tx"], r["ty"]): bytes(r["mvt"])
            for r in encode_mvt_tiles(pts).collect()
        }
        assert out[(0, 0)] == mvt_point_tile([(7, 10, 20), (3, 4000, 1)])
        assert decode_point_tile(out[(1, 0)]) == [(9, 0, 0)]
        blob = out[(0, 0)]
        assert decode_point_tile(blob) == [(3, 4000, 1), (7, 10, 20)]


def decode_rect_tile(blob: bytes):
    """Independent polygon decoder: returns (fid, ring-vertex list)."""
    tag, pos = _read_varint(blob, 0)
    llen, pos = _read_varint(blob, pos)
    layer = blob[pos:pos + llen]
    p = 0
    feats = []
    while p < len(layer):
        tag, p = _read_varint(layer, p)
        field, wt = tag >> 3, tag & 7
        if wt == 2:
            ln, p = _read_varint(layer, p)
            payload = layer[p:p + ln]
            p += ln
            if field == 2:
                q = 0
                fid = typ = None
                geom = []
                while q < len(payload):
                    t2, q = _read_varint(payload, q)
                    f2, w2 = t2 >> 3, t2 & 7
                    if w2 == 0:
                        v, q = _read_varint(payload, q)
                        if f2 == 1:
                            fid = v
                        elif f2 == 3:
                            typ = v
                    else:
                        gl, q = _read_varint(payload, q)
                        end = q + gl
                        while q < end:
                            v, q = _read_varint(payload, q)
                            geom.append(v)
                assert typ == 3
                # replay commands
                i, cx, cy = 0, 0, 0
                ring = []
                while i < len(geom):
                    cmd, cnt = geom[i] & 7, geom[i] >> 3
                    i += 1
                    if cmd in (1, 2):
                        for _ in range(cnt):
                            zx, zy = geom[i], geom[i + 1]
                            i += 2
                            cx += (zx >> 1) ^ -(zx & 1)
                            cy += (zy >> 1) ^ -(zy & 1)
                            ring.append((cx, cy))
                    else:
                        assert cmd == 7
                feats.append((fid, ring))
        else:
            _, p = _read_varint(layer, p)
    return feats


class TestPolygons:
    def test_rect_round_trip(self):
        from gdal_spark.operators.mvt import mvt_rect_tile

        blob = mvt_rect_tile([(42, 10, 20, 300, 4000)])
        feats = decode_rect_tile(blob)
        assert feats == [
            (42, [(10, 20), (300, 20), (300, 4000), (10, 4000)])
        ]

    def test_rect_winding_screen_cw(self):
        from gdal_spark.operators.mvt import mvt_rect_tile

        (fid, ring), = decode_rect_tile(mvt_rect_tile([(1, 0, 0, 10, 10)]))
        # shoelace in y-down screen coords must be positive (exterior)
        area2 = sum(
            ring[i][0] * ring[(i + 1) % 4][1]
            - ring[(i + 1) % 4][0] * ring[i][1]
            for i in range(4)
        )
        assert area2 > 0

    def test_spark_rect_matches_local(self, spark):
        from gdal_spark.operators.mvt import (
            encode_mvt_rect_tiles,
            mvt_rect_tile,
        )

        rects = spark.createDataFrame(
            [(0, 0, 5, 1, 2, 30, 40), (0, 0, 2, 100, 5, 200, 90)],
            "tx bigint, ty bigint, fid bigint, x0 bigint, y0 bigint, "
            "x1 bigint, y1 bigint",
        )
        out = encode_mvt_rect_tiles(rects).collect()[0]
        assert bytes(out["mvt"]) == mvt_rect_tile(
            [(5, 1, 2, 30, 40), (2, 100, 5, 200, 90)]
        )


def test_numpy_writer_parity():
    """The vectorized kernel writer must emit BYTE-IDENTICAL tiles to
    the scalar spec writer, across varint length classes."""
    import numpy as np

    from gdal_spark.operators.mvt import mvt_point_tile, mvt_point_tile_np

    rng = np.random.RandomState(11)
    for n in (0, 1, 7, 1000):
        f = rng.randint(0, 3_000_000_000, n).astype(np.int64)
        x = rng.randint(0, 4096, n).astype(np.int64)
        y = rng.randint(0, 4096, n).astype(np.int64)
        a = mvt_point_tile(list(zip(f.tolist(), x.tolist(), y.tolist())))
        b = mvt_point_tile_np(f, x, y)
        assert a == b, n


def test_numpy_rect_writer_parity():
    import numpy as np

    from gdal_spark.operators.mvt import mvt_rect_tile, mvt_rect_tile_np

    rng = np.random.RandomState(13)
    for n in (0, 1, 500):
        x0 = rng.randint(0, 2000, n).astype(np.int64)
        y0 = rng.randint(0, 2000, n).astype(np.int64)
        x1 = x0 + rng.randint(1, 2000, n)
        y1 = y0 + rng.randint(1, 2000, n)
        f = rng.randint(0, 3_000_000_000, n).astype(np.int64)
        a = mvt_rect_tile(
            list(zip(f.tolist(), x0.tolist(), y0.tolist(),
                     x1.tolist(), y1.tolist()))
        )
        b = mvt_rect_tile_np(f, x0, y0, x1, y1)
        assert a == b, n


@pytest.mark.parametrize(
    "rect",
    [
        (1, 5, 5, 5, 9),  # x1 == x0: zero-width
        (1, 9, 5, 5, 9),  # x1 < x0
        (1, 5, 9, 9, 5),  # y1 < y0
        (1, 7, 3, 7, 3),  # zero-size
    ],
)
def test_numpy_rect_writer_parity_on_non_positive_deltas(rect):
    """Every delta is zigzag-encoded, so the vectorized writer matches
    the scalar one for any corner order (not only x1 > x0, y1 > y0)."""
    import numpy as np

    from gdal_spark.operators.mvt import mvt_rect_tile, mvt_rect_tile_np

    want = mvt_rect_tile([rect])
    got = mvt_rect_tile_np(*(np.array([v], dtype=np.int64) for v in rect))
    assert got == want


class TestAttributes:
    def test_attr_round_trip_and_parity(self):
        import numpy as np

        from gdal_spark.operators.mvt import (
            mvt_attr_point_tile,
            mvt_attr_point_tile_np,
        )

        feats = [(5, 10, 20, "en"), (1, 0, 0, "de"), (9, 63, 64, "en")]
        blob = mvt_attr_point_tile(feats)
        b2 = mvt_attr_point_tile_np(
            np.array([5, 1, 9]), np.array([10, 0, 63]),
            np.array([20, 0, 64]), np.array(["en", "de", "en"]),
        )
        assert blob == b2
        # decode: keys/values/tags honored
        tag, pos = _read_varint(blob, 0)
        llen, pos = _read_varint(blob, pos)
        layer = blob[pos:pos + llen]
        p = 0
        keys, vals, tags = [], [], []
        while p < len(layer):
            t, p = _read_varint(layer, p)
            field, wt = t >> 3, t & 7
            if wt == 2:
                ln, p = _read_varint(layer, p)
                payload = layer[p:p + ln]
                p += ln
                if field == 3:
                    keys.append(payload.decode())
                elif field == 4:
                    # Value{string_value=1}
                    assert payload[0] == 0x0A
                    vals.append(payload[2:2 + payload[1]].decode())
                elif field == 2:
                    q = 0
                    while q < len(payload):
                        t2, q = _read_varint(payload, q)
                        f2, w2 = t2 >> 3, t2 & 7
                        if w2 == 2:
                            gl, q = _read_varint(payload, q)
                            if f2 == 2:  # tags
                                ki, q2 = _read_varint(payload, q)
                                vi, _ = _read_varint(payload, q2)
                                tags.append((ki, vi))
                            q += gl
                        else:
                            _, q = _read_varint(payload, q)
            else:
                _, p = _read_varint(layer, p)
        assert keys == ["lang"]
        assert vals == ["de", "en"]  # sorted distinct
        assert tags == [(0, 0), (0, 1), (0, 1)]  # fid order 1(de),5(en),9(en)


def test_attr_writer_parity_past_one_byte_value_index():
    """128+ distinct attribute values make value indices two-byte
    varints: the tags field length must grow with them in both
    writers, and the tile must still decode."""
    import numpy as np

    from gdal_spark.operators.mvt import (
        mvt_attr_point_tile,
        mvt_attr_point_tile_np,
    )

    n = 300
    fids = np.arange(n, dtype=np.int64)
    xs = (fids * 7) % EXTENT
    ys = (fids * 13) % EXTENT
    attrs = [f"v{i:03d}" for i in range(n)]
    blob = mvt_attr_point_tile(
        list(zip(fids.tolist(), xs.tolist(), ys.tolist(), attrs))
    )
    assert blob == mvt_attr_point_tile_np(fids, xs, ys, np.array(attrs))
    # every feature's tags decode to [0, its value index]
    _, pos = _read_varint(blob, 0)
    llen, pos = _read_varint(blob, pos)
    layer = blob[pos:pos + llen]
    p, tags = 0, []
    while p < len(layer):
        t, p = _read_varint(layer, p)
        if t & 7 != 2:
            _, p = _read_varint(layer, p)
            continue
        ln, p = _read_varint(layer, p)
        if t >> 3 == 2:
            feat, q = layer[p:p + ln], 0
            while q < len(feat):
                t2, q = _read_varint(feat, q)
                if t2 & 7 != 2:
                    _, q = _read_varint(feat, q)
                    continue
                gl, q = _read_varint(feat, q)
                if t2 >> 3 == 2:
                    ki, q2 = _read_varint(feat, q)
                    vi, q2 = _read_varint(feat, q2)
                    assert q2 == q + gl
                    tags.append((ki, vi))
                q += gl
        p += ln
    assert tags == [(0, i) for i in range(n)]


@pytest.mark.parametrize(
    "fid, px",
    [(1 << 35, 0), ((1 << 35) - 1, 1 << 34), (-1, 0)],
)
def test_numpy_writer_rejects_values_past_five_byte_varints(fid, px):
    """Ids and zigzag coordinates must stay below 2**35, the largest
    value the vectorized writer's five-byte varint digit count covers
    (a coordinate of 2**34 zigzags to 2**35)."""
    import numpy as np

    from gdal_spark.operators.mvt import mvt_point_tile_np

    with pytest.raises(ValueError, match="2\\*\\*35"):
        mvt_point_tile_np(np.array([fid]), np.array([px]), np.array([0]))


def test_numpy_writer_accepts_largest_five_byte_id():
    import numpy as np

    from gdal_spark.operators.mvt import mvt_point_tile, mvt_point_tile_np

    fid = (1 << 35) - 1
    assert mvt_point_tile_np(
        np.array([fid]), np.array([5]), np.array([6])
    ) == mvt_point_tile([(fid, 5, 6)])
