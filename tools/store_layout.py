#!/usr/bin/env python3
"""Print how a parquet store is laid out, column by column.

    python3 tools/store_layout.py STORE_DIR [--sorted-by COL]

STORE_DIR is any directory of parquet files, searched recursively (an
append store `batch=<id>/`, an upsert store `bucket=<b>/gen=<g>/`, or one
generation of it); files whose names start with `_` or `.` are skipped.
Per column it prints, summed over every file's footer:

- compressed bytes per stored row and the column's share of them;
- compression codecs and the chunk encodings the footer lists;
- the data-page versions found by walking every page header of every
  chunk (`v1` DATA_PAGE, `v2` DATA_PAGE_V2);
- how many chunks start with a dictionary page.

With --sorted-by COL it also reads COL from each file and counts the files
whose rows are non-decreasing in COL (nulls skipped). Exits 1 when no
parquet file is found.
"""
import argparse
import collections
import pathlib
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

PAGE_TYPES = {0: "v1", 2: "dict", 3: "v2"}


def varint(buf, i):
    shift = result = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def zigzag(n):
    return (n >> 1) ^ -(n & 1)


def skip(buf, i, t):
    """Skips one thrift compact-protocol field value of type t at buf[i]:
    the types a parquet page header uses."""
    if t in (1, 2):  # bool: held in the field header
        return i
    if t in (4, 5, 6):
        return varint(buf, i)[1]
    if t == 8:
        n, i = varint(buf, i)
        return i + n
    if t == 12:
        return read_struct(buf, i)[1]
    raise ValueError(f"unexpected thrift compact type {t} in a page header")


def read_struct(buf, i):
    """Reads a compact-protocol struct: its i32 fields by id, and the end."""
    fields, last = {}, 0
    while True:
        head = buf[i]
        i += 1
        if head == 0:
            return fields, i
        t, delta = head & 0x0F, head >> 4
        if delta:
            fid = last + delta
        else:
            raw, i = varint(buf, i)
            fid = zigzag(raw)
        last = fid
        if t == 5:
            v, i = varint(buf, i)
            fields[fid] = zigzag(v)
        else:
            i = skip(buf, i, t)


def page_types(f, chunk):
    """Counts the pages of one column chunk by type ("v1", "v2", "dict")."""
    start = chunk.data_page_offset
    if chunk.has_dictionary_page and chunk.dictionary_page_offset is not None:
        start = min(start, chunk.dictionary_page_offset)
    f.seek(start)
    buf = f.read(chunk.total_compressed_size)
    counts = collections.Counter()
    pos = 0
    while pos < len(buf):
        header, pos = read_struct(buf, pos)  # 1: type, 3: compressed size
        counts[PAGE_TYPES.get(header[1], str(header[1]))] += 1
        pos += header[3]
    return counts


def is_sorted(path, column):
    arr = pq.read_table(path, columns=[column]).column(0).drop_null()
    if len(arr) < 2:
        return True
    return pc.all(pc.greater_equal(arr[1:], arr[:-1])).as_py()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("store")
    ap.add_argument("--sorted-by", metavar="COL")
    a = ap.parse_args()

    files = sorted(p for p in pathlib.Path(a.store).rglob("*.parquet")
                   if p.is_file() and not p.name.startswith(("_", ".")))
    if not files:
        print(f"no parquet files under {a.store}", file=sys.stderr)
        sys.exit(1)

    cols = collections.OrderedDict()
    rows = file_bytes = 0
    for path in files:
        file_bytes += path.stat().st_size
        meta = pq.ParquetFile(path).metadata
        rows += meta.num_rows
        with open(path, "rb") as f:
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    chunk = rg.column(c)
                    s = cols.setdefault(chunk.path_in_schema, {
                        "bytes": 0, "codecs": set(), "encodings": set(),
                        "pages": collections.Counter(), "chunks": 0, "dict": 0})
                    s["bytes"] += chunk.total_compressed_size
                    s["codecs"].add(chunk.compression)
                    s["encodings"].update(chunk.encodings)
                    s["pages"].update(page_types(f, chunk))
                    s["chunks"] += 1
                    s["dict"] += bool(chunk.has_dictionary_page)

    per_row = max(rows, 1)
    col_bytes = sum(s["bytes"] for s in cols.values())
    print(f"store {a.store}: {len(files)} files, {rows} rows, "
          f"{file_bytes / per_row:.2f} B/row on disk, {col_bytes / per_row:.2f} B/row in columns")
    print(f"  {'column':18s} {'B/row':>7s} {'share':>6s}  {'codec':6s} {'pages':9s} "
          f"{'dict':>9s}  encodings")
    for name, s in cols.items():
        pages = "+".join(sorted(k for k in s["pages"] if k != "dict"))
        print(f"  {name:18s} {s['bytes'] / per_row:7.2f} {s['bytes'] / max(col_bytes, 1):6.1%}"
              f"  {','.join(sorted(s['codecs'])):6s} {pages:9s} {s['dict']:>4d}/{s['chunks']:<4d}"
              f"  {','.join(sorted(s['encodings']))}")
    if a.sorted_by:
        ok = sum(is_sorted(p, a.sorted_by) for p in files)
        print(f"  rows sorted by {a.sorted_by}: {ok} of {len(files)} files")


if __name__ == "__main__":
    main()
