"""Output checks that run after the benchmark JVM exits.

corpus_sweep: every query's engine output (written as parquet by the warm-up
pass) is compared with its DuckDB oracle as an order-insensitive multiset with
exact values; the row count and an order-insensitive hash are recorded.

export_mix: every format of every exported category is read back with an
independent reader and its row count compared with the category count the
engine reported; every category zip must open and pass its CRC test.
"""
import glob
import gzip
import hashlib
import json
import math
import os
import sqlite3
import struct
import zipfile

import duckdb

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    """value -> comparable text; numbers compare by value, so an integral
    double equals the same integer, as in SQL"""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def _rows(con, sql, cols):
    rows = con.execute(f"SELECT {', '.join(chr(34) + c + chr(34) for c in cols)} "
                       f"FROM ({sql})").fetchall()
    return sorted(tuple(_canon(v) for v in r) for r in rows)


def corpus(record):
    """-> (failed query names, {query: {rows, hash}}, messages)"""
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{record['corpus_dir']}/{t}.parquet')")
    failed, info, msgs = [], {}, []
    for name, sql in sorted(record["oracle_sql"].items()):
        files = glob.glob(os.path.join(record["corpus_out"], name, "*.parquet"))
        try:
            if not files:
                raise ValueError("no engine output")
            engine = f"SELECT * FROM read_parquet({files!r})"
            ecols = [d[0] for d in con.execute(engine + " LIMIT 0").description]
            ocols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
            if sorted(ecols) != sorted(ocols):
                raise ValueError(f"columns {sorted(ecols)} vs oracle {sorted(ocols)}")
            cols = sorted(ocols)
            e, o = _rows(con, engine, cols), _rows(con, sql, cols)
            if e != o:
                diff = next((i for i, (a, b) in enumerate(zip(e, o)) if a != b), min(len(e), len(o)))
                raise ValueError(f"{len(e)} rows vs oracle {len(o)}; first difference at sorted row {diff}")
            info[name] = {"rows": len(e),
                          "hash": hashlib.sha1("\n".join(map(repr, e)).encode()).hexdigest()[:16]}
        except Exception as ex:  # any mismatch or reader error fails the query
            failed.append(name)
            msgs.append(f"corpus {name}: {ex}")
    return failed, info, msgs


# ---- format read-back -------------------------------------------------------

def _varint(buf, i):
    v, shift = 0, 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, i
        shift += 7


def _fields(buf):
    """protobuf message -> [(field, wire, value)]"""
    i, out = 0, []
    while i < len(buf):
        key, i = _varint(buf, i)
        f, w = key >> 3, key & 7
        if w == 0:
            v, i = _varint(buf, i)
        elif w == 1:
            v, i = buf[i:i + 8], i + 8
        elif w == 2:
            n, i = _varint(buf, i)
            v, i = buf[i:i + n], i + n
        elif w == 5:
            v, i = buf[i:i + 4], i + 4
        else:
            raise ValueError(f"wire type {w}")
        out.append((f, w, v))
    return out


def _mvt_ids(tile):
    """distinct image_id attribute values of a (gzip) vector tile"""
    if tile[:2] == b"\x1f\x8b":
        tile = gzip.decompress(tile)
    ids = set()
    for f, _, layer in _fields(tile):
        if f != 3:
            continue
        lf = _fields(layer)
        keys = [v.decode() for g, _, v in lf if g == 3]
        values = []
        for g, _, v in lf:
            if g == 4:
                values.append(next((x for h, _, x in _fields(v) if h == 1), None))
        if "image_id" not in keys:
            continue
        k = keys.index("image_id")
        for g, _, feat in lf:
            if g != 2:
                continue
            for h, _, tags in _fields(feat):
                if h == 2:
                    t, j, pairs = tags, 0, []
                    while j < len(t):
                        x, j = _varint(t, j)
                        pairs.append(x)
                    for a, b in zip(pairs[::2], pairs[1::2]):
                        if a == k:
                            ids.add(values[b])
    return ids


def _mbtiles_ids(path):
    con = sqlite3.connect(path)
    try:
        maxz = con.execute("SELECT max(zoom_level) FROM tiles").fetchone()[0]
        if maxz is None:
            return 0
        ids = set()
        for (data,) in con.execute("SELECT tile_data FROM tiles WHERE zoom_level = ?", (maxz,)):
            ids |= _mvt_ids(data)
        return len(ids)
    finally:
        con.close()


def _pmtiles_dir(buf):
    n, i = _varint(buf, 0)
    cols = []
    for _ in range(4):
        col = []
        for _ in range(n):
            v, i = _varint(buf, i)
            col.append(v)
        cols.append(col)
    ids, runs, lens, offs = cols
    out, tid, prev_end = [], 0, 0
    for k in range(n):
        tid += ids[k]
        off = prev_end if offs[k] == 0 and k > 0 else offs[k] - 1
        out.append((tid, runs[k], lens[k], off))
        prev_end = off + lens[k]
    return out


def _zoom(tile_id):
    z, acc = 0, 0
    while acc + 4 ** z <= tile_id:
        acc += 4 ** z
        z += 1
    return z


def _pmtiles_ids(path):
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:7] != b"PMTiles":
        raise ValueError("not a PMTiles v3 archive")
    root_off, root_len, _, _, leaf_off, _, data_off = struct.unpack_from("<7Q", buf, 8)
    comp = buf[97]

    def directory(off, n):
        raw = buf[off:off + n]
        return _pmtiles_dir(gzip.decompress(raw) if comp == 2 else raw)

    tiles, stack = [], [directory(root_off, root_len)]
    while stack:
        for tid, run, ln, off in stack.pop():
            if run == 0:
                stack.append(directory(leaf_off + off, ln))
            else:
                tiles.append((tid, data_off + off, ln))
    if not tiles:
        return 0
    maxz = max(_zoom(t[0]) for t in tiles)
    ids = set()
    for tid, off, ln in tiles:
        if _zoom(tid) == maxz:
            ids |= _mvt_ids(buf[off:off + ln])
    return len(ids)


def _dbf_rows(path):
    with open(path, "rb") as fh:
        return struct.unpack_from("<I", fh.read(8), 4)[0]


def _fgb_rows(path):
    with open(path, "rb") as fh:
        buf = fh.read()
    start = 12  # magic(8) + header size prefix(4), then the Header flatbuffer
    table = start + struct.unpack_from("<I", buf, start)[0]
    vt = table - struct.unpack_from("<i", buf, table)[0]
    slot = 4 + 2 * 8  # field 8: features_count
    if slot >= struct.unpack_from("<H", buf, vt)[0]:
        return 0
    off = struct.unpack_from("<H", buf, vt + slot)[0]
    return struct.unpack_from("<Q", buf, table + off)[0] if off else 0


def _copy_rows(path):
    n, inside = 0, False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("COPY "):
                inside = True
            elif inside and line.startswith("\\."):
                inside = False
            elif inside:
                n += 1
            elif line.startswith("INSERT INTO"):
                n += 1
    return n


def _gpkg_rows(path, table):
    con = sqlite3.connect(path)
    try:
        return con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
    finally:
        con.close()


def readback(fmt, d, table):
    """row count of one written format under category dir `d`"""
    if fmt == "geojson":
        n = 0
        for p in glob.glob(f"{d}/geojson/*.geojson"):
            with open(p, encoding="utf-8") as fh:
                n += len(json.load(fh)["features"])
        return n
    if fmt == "parquet":
        return duckdb.execute(f"SELECT count(*) FROM read_parquet('{d}/parquet/*.parquet')").fetchone()[0]
    if fmt == "csv":
        files = glob.glob(f"{d}/csv/*.csv")
        return duckdb.execute(f"SELECT count(*) FROM read_csv({files!r}, header=true, "
                              "all_varchar=true)").fetchone()[0] if files else 0
    if fmt == "json":
        n = 0
        for p in glob.glob(f"{d}/json/*.json"):
            with open(p, encoding="utf-8") as fh:
                n += sum(1 for line in fh if line.strip())
        return n
    if fmt == "shp":
        return sum(_dbf_rows(p) for p in glob.glob(f"{d}/shp/*.dbf"))
    if fmt == "kml":
        n = 0
        for p in glob.glob(f"{d}/kml/**/*.kml", recursive=True):
            with open(p, encoding="utf-8") as fh:
                n += fh.read().count("<Placemark")
        return n
    if fmt == "fgb":
        return _fgb_rows(f"{d}/export.fgb")
    if fmt == "sql":
        return _copy_rows(f"{d}/export.sql")
    if fmt == "gpkg":
        return _gpkg_rows(f"{d}/export.gpkg", table)
    if fmt == "pmtiles":
        return _pmtiles_ids(f"{d}/export.pmtiles")
    if fmt == "mbtiles":
        return _mbtiles_ids(f"{d}/export.mbtiles")
    raise ValueError(f"unknown format {fmt}")


def exports(record):
    """-> (number of failed exports, messages)"""
    failed, msgs = 0, []
    for e in record.get("exports", []):
        bad = []
        for cat, n in e["counts"].items():
            d = os.path.join(e["dir"], cat)
            for fmt in e["formats"]:
                try:
                    got = readback(fmt, d, cat)
                    if got != n:
                        bad.append(f"{cat}/{fmt}: read back {got} rows, category has {n}")
                except Exception as ex:
                    bad.append(f"{cat}/{fmt}: {type(ex).__name__}: {ex}")
            try:
                with zipfile.ZipFile(os.path.join(e["dir"], f"{cat}.zip")) as z:
                    if z.testzip() is not None or not z.namelist():
                        bad.append(f"{cat}.zip: corrupt or empty")
            except Exception as ex:
                bad.append(f"{cat}.zip: {type(ex).__name__}: {ex}")
        if bad:
            failed += 1
            msgs += [f"export {os.path.basename(e['dir'])} {b}" for b in bad]
    return failed, msgs
