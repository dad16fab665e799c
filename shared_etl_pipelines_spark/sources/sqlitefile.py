"""SQLite database FILE reader — the PUBLIC file format
(sqlite.org/fileformat2), implemented from the spec.

SQLite files are everywhere in scraped corpora (app data, ML metadata
stores, HuggingFace datasets-server caches), and a curation pipeline
must be able to census them without shelling out to a sqlite binary.
This module walks the raw bytes: the 100-byte header, table b-trees
(interior 0x05 / leaf 0x0D pages), cell pointer arrays, varints, the
record serial-type system, and overflow-page chains for payloads that
spill past the leaf threshold (the spec's minLeaf/maxLeaf split).

The fixtures are written by Python's STDLIB ``sqlite3`` (a completely
independent implementation), so every test is a true cross-check of
this reader against SQLite's own writer — not a self-roundtrip.

Index b-trees (interior 0x02 / leaf 0x0A pages) are walked too (r12):
in-order traversal yielding interior-cell records as well as leaf
records, which covers both real indexes (``scan_index``) and WITHOUT
ROWID tables — whose rows are stored as index records with the PRIMARY
KEY columns first, undone here back to declared column order from the
DDL (``scan_table`` handles both storages transparently).

Scope and refusals (loud ValueError, never a guess):
- text encoding must be UTF-8 (header offset 56 == 1);
- a non-zero ``freelist`` is fine (freelist pages are simply never
  referenced by a table walk), but corrupt page types, cell offsets
  outside the page, or truncated overflow chains refuse.

Spark side: one SQLite file is one self-contained b-tree, so the unit
of parallelism is the FILE — decode rides executor-side mapInPandas
over the asset table exactly like the other multimodal codecs.
"""

from __future__ import annotations

import struct

__all__ = [
    "parse_header",
    "read_schema",
    "scan_table",
    "scan_index",
    "table_rows",
    "index_rows",
]

_MAGIC = b"SQLite format 3\x00"


def _varint(buf: bytes, p: int) -> tuple[int, int]:
    """SQLite varint: 1-9 bytes, big-endian 7-bit groups; the 9th byte
    contributes all 8 bits. Returns (value, next_pos)."""
    v = 0
    for i in range(8):
        if p + i >= len(buf):
            raise ValueError("sqlite: truncated varint")
        b = buf[p + i]
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, p + i + 1
    if p + 8 >= len(buf):
        raise ValueError("sqlite: truncated varint")
    v = (v << 8) | buf[p + 8]
    return v, p + 9


def parse_header(blob: bytes) -> dict:
    if len(blob) < 100 or blob[:16] != _MAGIC:
        raise ValueError("sqlite: bad magic — quarantine")
    (page_size,) = struct.unpack_from(">H", blob, 16)
    if page_size == 1:
        page_size = 65536
    if page_size < 512 or page_size & (page_size - 1):
        raise ValueError(f"sqlite: invalid page size {page_size}")
    reserved = blob[20]
    (n_pages,) = struct.unpack_from(">I", blob, 28)
    (freelist_head,) = struct.unpack_from(">I", blob, 32)
    (freelist_count,) = struct.unpack_from(">I", blob, 36)
    (encoding,) = struct.unpack_from(">I", blob, 56)
    if encoding != 1:
        raise ValueError(
            f"sqlite: text encoding {encoding} unsupported (UTF-8 only)"
        )
    return {
        "page_size": page_size,
        "reserved": reserved,
        "n_pages": n_pages,
        "freelist_pages": freelist_count,
        "freelist_head": freelist_head,
        "usable": page_size - reserved,
    }


def _page(blob: bytes, hdr: dict, pgno: int) -> bytes:
    if pgno < 1:
        raise ValueError("sqlite: page numbers start at 1")
    start = (pgno - 1) * hdr["page_size"]
    end = start + hdr["page_size"]
    if end > len(blob):
        raise ValueError(f"sqlite: page {pgno} beyond EOF — quarantine")
    return blob[start:end]


def _decode_record(payload: bytes) -> list:
    """The record format: header-length varint, serial-type varints,
    then the body values in order."""
    hlen, p = _varint(payload, 0)
    stypes = []
    while p < hlen:
        st, p = _varint(payload, p)
        stypes.append(st)
    if p != hlen:
        raise ValueError("sqlite: record header length lies — quarantine")
    out = []
    for st in stypes:
        if st == 0:
            out.append(None)
        elif st in (1, 2, 3, 4, 5, 6):
            width = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}[st]
            raw = payload[p : p + width]
            if len(raw) < width:
                raise ValueError("sqlite: truncated integer value")
            out.append(int.from_bytes(raw, "big", signed=True))
            p += width
        elif st == 7:
            out.append(struct.unpack_from(">d", payload, p)[0])
            p += 8
        elif st == 8:
            out.append(0)
        elif st == 9:
            out.append(1)
        elif st >= 12:
            ln = (st - 12) // 2
            raw = payload[p : p + ln]
            if len(raw) < ln:
                raise ValueError("sqlite: truncated blob/text value")
            out.append(raw.decode("utf-8") if st % 2 else raw)
            p += ln
        else:
            raise ValueError(f"sqlite: reserved serial type {st}")
    return out


def _read_payload(
    blob: bytes, hdr: dict, page: bytes, p: int, total: int, max_local: int,
    min_local: int,
) -> bytes:
    """Local bytes + the overflow chain when the payload spilled (the
    spec's K = minLocal + (total - minLocal) % (usable - 4) rule)."""
    if total <= max_local:
        if p + total > len(page):
            raise ValueError("sqlite: cell payload overruns page")
        return page[p : p + total]
    usable = hdr["usable"]
    k = min_local + (total - min_local) % (usable - 4)
    local = k if k <= max_local else min_local
    if p + local + 4 > len(page):
        raise ValueError("sqlite: spilled cell overruns page")
    out = bytearray(page[p : p + local])
    (nxt,) = struct.unpack_from(">I", page, p + local)
    remaining = total - local
    while remaining > 0:
        if nxt == 0:
            raise ValueError("sqlite: overflow chain ends early — quarantine")
        op = _page(blob, hdr, nxt)
        (nxt,) = struct.unpack_from(">I", op, 0)
        chunk = op[4 : 4 + min(remaining, usable - 4)]
        out += chunk
        remaining -= len(chunk)
    return bytes(out)


def table_rows(blob: bytes, hdr: dict, rootpage: int):
    """Yield (rowid, values) for every row of a rowid-table b-tree, in
    key order — interior pages walked recursively, overflow chased."""
    usable = hdr["usable"]
    max_leaf = usable - 35
    min_leaf = ((usable - 12) * 32) // 255 - 23

    def walk(pgno: int):
        page = _page(blob, hdr, pgno)
        off = 100 if pgno == 1 else 0
        ptype = page[off]
        if ptype == 0x05:  # interior table page
            (n_cells,) = struct.unpack_from(">H", page, off + 3)
            (right,) = struct.unpack_from(">I", page, off + 8)
            for i in range(n_cells):
                (cp,) = struct.unpack_from(">H", page, off + 12 + 2 * i)
                (child,) = struct.unpack_from(">I", page, cp)
                yield from walk(child)
            yield from walk(right)
        elif ptype == 0x0D:  # leaf table page
            (n_cells,) = struct.unpack_from(">H", page, off + 3)
            for i in range(n_cells):
                (cp,) = struct.unpack_from(">H", page, off + 8 + 2 * i)
                if cp >= len(page):
                    raise ValueError("sqlite: cell pointer outside page")
                total, p = _varint(page, cp)
                rowid, p = _varint(page, p)
                payload = _read_payload(
                    blob, hdr, page, p, total, max_leaf, min_leaf
                )
                yield rowid, _decode_record(payload)
        elif ptype in (0x02, 0x0A):
            raise ValueError(
                "sqlite: index b-tree page in a table walk — quarantine "
                "(WITHOUT ROWID storage goes through index_rows)"
            )
        else:
            raise ValueError(f"sqlite: unknown page type 0x{ptype:02x}")

    yield from walk(rootpage)


def index_rows(blob: bytes, hdr: dict, rootpage: int):
    """Yield the decoded record of every entry in an index b-tree
    (interior 0x02 / leaf 0x0A pages), in key order. Index b-trees keep
    real entries on INTERIOR pages too, so the walk is a true in-order
    traversal: child[i], key[i], ..., rightmost child. Index payloads
    use the spec's X = ((usable-12)*64/255)-23 local maximum (table
    leaves use usable-35)."""
    usable = hdr["usable"]
    max_local = ((usable - 12) * 64) // 255 - 23
    min_local = ((usable - 12) * 32) // 255 - 23

    def walk(pgno: int):
        page = _page(blob, hdr, pgno)
        off = 100 if pgno == 1 else 0
        ptype = page[off]
        if ptype == 0x02:  # interior index page
            (n_cells,) = struct.unpack_from(">H", page, off + 3)
            (right,) = struct.unpack_from(">I", page, off + 8)
            for i in range(n_cells):
                (cp,) = struct.unpack_from(">H", page, off + 12 + 2 * i)
                if cp + 4 >= len(page):
                    raise ValueError("sqlite: cell pointer outside page")
                (child,) = struct.unpack_from(">I", page, cp)
                total, p = _varint(page, cp + 4)
                payload = _read_payload(
                    blob, hdr, page, p, total, max_local, min_local
                )
                yield from walk(child)
                yield _decode_record(payload)
            yield from walk(right)
        elif ptype == 0x0A:  # leaf index page
            (n_cells,) = struct.unpack_from(">H", page, off + 3)
            for i in range(n_cells):
                (cp,) = struct.unpack_from(">H", page, off + 8 + 2 * i)
                if cp >= len(page):
                    raise ValueError("sqlite: cell pointer outside page")
                total, p = _varint(page, cp)
                payload = _read_payload(
                    blob, hdr, page, p, total, max_local, min_local
                )
                yield _decode_record(payload)
        elif ptype in (0x05, 0x0D):
            raise ValueError(
                "sqlite: table b-tree page in an index walk — quarantine"
            )
        else:
            raise ValueError(f"sqlite: unknown page type 0x{ptype:02x}")

    yield from walk(rootpage)


def _parse_create_table(sql: str) -> tuple[list[str], list[str]]:
    """(declared column names, primary-key column names) out of a
    CREATE TABLE statement — just enough DDL to undo WITHOUT ROWID
    column reordering; anything structurally surprising refuses."""
    lp = sql.index("(")
    depth = 0
    rp = -1
    for i in range(lp, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                rp = i
                break
    if rp < 0:
        raise ValueError("sqlite: unbalanced CREATE TABLE parens")
    body = sql[lp + 1 : rp]
    parts: list[str] = []
    depth = 0
    cur = []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    constraint_kw = {"PRIMARY", "UNIQUE", "CHECK", "FOREIGN", "CONSTRAINT"}
    cols: list[str] = []
    pk: list[str] = []
    for part in parts:
        first = part.split()[0]
        bare = first.strip('"`[]')
        if bare.upper() in constraint_kw and first == first.upper():
            if bare.upper() == "PRIMARY":
                inner = part[part.index("(") + 1 : part.rindex(")")]
                pk = [
                    c.strip().strip('"`[]').split()[0]
                    for c in inner.split(",")
                ]
            continue
        cols.append(bare)
        if "PRIMARY KEY" in part.upper():
            pk = [bare]
    if not pk:
        raise ValueError("sqlite: WITHOUT ROWID table lacks a PRIMARY KEY")
    # SQLite identifiers are case-insensitive: resolve each PK name to
    # its declared column (quoting already stripped above) so a DDL
    # like `(a INTEGER, PRIMARY KEY (A))` reorders correctly, and
    # refuse unknown names instead of dying later on record arity
    by_fold = {c.casefold(): c for c in cols}
    resolved = []
    for p in pk:
        c = by_fold.get(p.casefold())
        if c is None:
            raise ValueError(
                f"sqlite: PRIMARY KEY column {p!r} not declared — quarantine"
            )
        resolved.append(c)
    return cols, resolved


def read_schema(blob: bytes) -> list[dict]:
    """sqlite_schema rows: (type, name, tbl_name, rootpage, sql) — the
    catalog stored in the page-1 b-tree."""
    hdr = parse_header(blob)
    out = []
    for _rowid, vals in table_rows(blob, hdr, 1):
        if len(vals) != 5:
            raise ValueError("sqlite: malformed sqlite_schema row")
        out.append(
            {
                "type": vals[0],
                "name": vals[1],
                "tbl_name": vals[2],
                "rootpage": vals[3],
                "sql": vals[4],
            }
        )
    return out


def scan_table(blob: bytes, table: str) -> list[tuple[int | None, list]]:
    """All rows of ``table``. INTEGER PRIMARY KEY columns are stored as
    NULL in the record with the value carried by the rowid — resolved
    here the way the spec requires (alias column := rowid).

    WITHOUT ROWID tables store rows as index-b-tree records with the
    PRIMARY KEY columns first (in PK order) followed by the remaining
    columns in declared order; this scan undoes that reordering from
    the DDL and returns rowid=None for them (they have no rowid)."""
    hdr = parse_header(blob)
    schema = read_schema(blob)
    matches = [
        s for s in schema if s["type"] == "table" and s["name"] == table
    ]
    if not matches:
        raise ValueError(f"sqlite: no such table {table!r} — quarantine")
    root = matches[0]["rootpage"]
    raw_sql = matches[0]["sql"] or ""
    sql = raw_sql.upper()
    if "WITHOUT ROWID" in sql:
        cols, pk = _parse_create_table(raw_sql)
        others = [c for c in cols if c not in pk]
        stored_order = pk + others
        perm = [stored_order.index(c) for c in cols]
        rows = []
        for vals in index_rows(blob, hdr, root):
            if len(vals) != len(cols):
                raise ValueError(
                    "sqlite: WITHOUT ROWID record arity mismatch — quarantine"
                )
            rows.append((None, [vals[i] for i in perm]))
        return rows
    has_ipk_alias = "INTEGER PRIMARY KEY" in sql
    rows = []
    for rowid, vals in table_rows(blob, hdr, root):
        if has_ipk_alias and vals and vals[0] is None:
            vals = [rowid] + vals[1:]
        rows.append((rowid, vals))
    return rows


def scan_index(blob: bytes, index: str) -> list[list]:
    """All entries of a real index b-tree, in key order — each record
    is (indexed columns..., rowid), the spec's index record shape."""
    hdr = parse_header(blob)
    schema = read_schema(blob)
    matches = [
        s for s in schema if s["type"] == "index" and s["name"] == index
    ]
    if not matches:
        raise ValueError(f"sqlite: no such index {index!r} — quarantine")
    return list(index_rows(blob, hdr, matches[0]["rootpage"]))


# ----------------------------------------------------------------------
# Spark side: per-file decode inside mapInPandas (a SQLite file is one
# self-contained b-tree — the FILE is the unit of parallelism)
# ----------------------------------------------------------------------
def synthetic_sqlite_assets(df, id_col: str = "doc_id", payload_col: str = "text"):
    """Deterministic SQLite fixtures written by the STDLIB sqlite3
    engine (independent implementation — reading them back is a true
    cross-check): 512-byte pages, a ``docs`` table with n%7+2 rows of
    ((doc_id+r)%13+1)-byte bodies, quarter-step REAL scores, an
    INTEGER PRIMARY KEY alias, and one 600+doc_id%50-byte row that
    forces an overflow chain. Everything replays from doc_id."""
    from pyspark.sql import functions as F

    from shared_etl_pipelines_spark.functions.rows import map_rows

    def fixture(doc_id, payload):
        import sqlite3

        d = int(doc_id)
        n = len(str(payload).encode("utf-8"))
        con = sqlite3.connect(":memory:")
        con.execute("PRAGMA page_size=512")
        con.execute(
            "CREATE TABLE docs (id INTEGER PRIMARY KEY, body TEXT,"
            " score REAL, flag INTEGER)"
        )
        nr = n % 7 + 2
        con.executemany(
            "INSERT INTO docs VALUES (?,?,?,?)",
            [
                (r, "x" * ((d + r) % 13 + 1), ((d + r) % 8) / 4.0, r % 2)
                for r in range(nr)
            ],
        )
        con.execute(
            "INSERT INTO docs VALUES (?,?,?,?)",
            (1000, "y" * (600 + d % 50), 0.25, None),
        )
        con.commit()
        blob = con.serialize()
        con.close()
        yield doc_id, "application/vnd.sqlite3", blob

    return map_rows(
        df.select(F.col(id_col), F.col(payload_col)),
        fixture,
        "doc_id bigint, media_type string, blob binary",
    )


def scan_sqlite_assets(assets, table: str = "docs"):
    """Per-file census of one table: row count, body byte total, score
    sum, flag census, page/overflow stats. Corrupt or out-of-scope
    files (bad magic, non-UTF8 encoding, WITHOUT ROWID) emit a
    quarantine row with the reason — never kill the scan."""
    from shared_etl_pipelines_spark.functions.rows import map_rows

    def scan(doc_id, blob):
        try:
            blob = bytes(blob)
            hdr = parse_header(blob)
            data = scan_table(blob, table)
            body_bytes = sum(
                len(v[1].encode()) for _, v in data if v[1] is not None
            )
            out = (
                doc_id, True, "", len(data), body_bytes,
                float(sum(v[2] for _, v in data if v[2] is not None)),
                sum(1 for _, v in data if v[3] == 1),
                hdr["n_pages"],
            )
        except ValueError as e:
            out = (doc_id, False, str(e)[:80], 0, 0, 0.0, 0, 0)
        yield out

    return map_rows(
        assets.select("doc_id", "blob"),
        scan,
        "doc_id bigint, ok boolean, reason string, n_rows long, "
        "body_bytes long, score_sum double, n_flag1 long, n_pages long",
    )
