#!/usr/bin/env python3
"""Compare the output of two graft.Carve runs.

    python3 tools/carve_diff.py <outA> <outB>

Checks, with DuckDB:
  - the nine metadata streams (files, artefacts_urls, artefacts_emails,
    artefacts_phones, entropy_regions, browser_history, browser_cookies,
    browser_downloads, run_summary) hold the same multiset of rows on
    both sides, ignoring the `run_id` column; parquet, jsonl and csv
    outputs are read, hive partitions (`file_type=jpeg/`) included;
  - every payload file under `carved/` exists on both sides with the
    same bytes.

Prints one line per stream and a payload summary. Exits 1 on any
difference, 2 on a usage error.
"""
import filecmp
import os
import sys

import duckdb

STREAMS = ("files", "artefacts_urls", "artefacts_emails", "artefacts_phones",
           "entropy_regions", "browser_history", "browser_cookies",
           "browser_downloads", "run_summary")
READERS = ((".parquet", "read_parquet"), (".json", "read_json_auto"),
           (".jsonl", "read_json_auto"), (".csv", "read_csv_auto"))


def relation(con, stream_dir):
    """The stream's rows without run_id, or None when it wrote no data file."""
    for d, _, files in os.walk(stream_dir):
        for f in files:
            for ext, reader in READERS:
                if f.endswith(ext):
                    glob = os.path.join(stream_dir, "**", "*" + ext)
                    rel = con.sql(f"SELECT * FROM {reader}('{glob}', hive_partitioning = true)")
                    if "run_id" in rel.columns:
                        rel = rel.select(", ".join(f'"{c}"' for c in rel.columns if c != "run_id"))
                    return rel
    return None


def diff_stream(con, a_dir, b_dir):
    """(rows in A, rows in B, rows only in A, rows only in B), or a message."""
    a, b = relation(con, a_dir), relation(con, b_dir)
    if a is None or b is None:
        return "missing on " + ("both sides" if a is None and b is None else "A" if a is None else "B")
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: {sorted(a.columns)} vs {sorted(b.columns)}"
    cols = ", ".join(f'"{c}"' for c in sorted(a.columns))
    con.register("a_rows", a.select(cols))
    con.register("b_rows", b.select(cols))
    only_a = con.sql("SELECT count(*) FROM (SELECT * FROM a_rows EXCEPT ALL SELECT * FROM b_rows)").fetchone()[0]
    only_b = con.sql("SELECT count(*) FROM (SELECT * FROM b_rows EXCEPT ALL SELECT * FROM a_rows)").fetchone()[0]
    n_a = con.sql("SELECT count(*) FROM a_rows").fetchone()[0]
    n_b = con.sql("SELECT count(*) FROM b_rows").fetchone()[0]
    con.unregister("a_rows")
    con.unregister("b_rows")
    return n_a, n_b, only_a, only_b


def payloads(root):
    out = set()
    for d, _, files in os.walk(root):
        out.update(os.path.relpath(os.path.join(d, f), root) for f in files)
    return out


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(p) for p in argv[1:]):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    out_a, out_b = argv[1], argv[2]
    con = duckdb.connect()
    same = True
    for stream in STREAMS:
        r = diff_stream(con, os.path.join(out_a, stream), os.path.join(out_b, stream))
        if isinstance(r, str):
            same = False
            print(f"{stream}: {r}")
            continue
        n_a, n_b, only_a, only_b = r
        ok = n_a == n_b and only_a == 0 and only_b == 0
        same &= ok
        print(f"{stream}: {'same' if ok else 'DIFFERENT'} ({n_a} vs {n_b} rows; "
              f"{only_a} only in A, {only_b} only in B)")

    carved_a, carved_b = os.path.join(out_a, "carved"), os.path.join(out_b, "carved")
    files_a, files_b = payloads(carved_a), payloads(carved_b)
    differ = sorted(p for p in files_a & files_b
                    if not filecmp.cmp(os.path.join(carved_a, p), os.path.join(carved_b, p), shallow=False))
    only_a, only_b = sorted(files_a - files_b), sorted(files_b - files_a)
    ok = not differ and not only_a and not only_b
    same &= ok
    print(f"carved: {'same' if ok else 'DIFFERENT'} ({len(files_a)} vs {len(files_b)} files; "
          f"{len(differ)} differ, {len(only_a)} only in A, {len(only_b)} only in B)")
    for p in (differ + only_a + only_b)[:10]:
        print(f"  {p}")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
