"""Where a crawl store's bytes go, table by table.

For each table dir under STORE (``known``, ``fetch_log``, ``images``,
``bloom``, ...) prints the parquet files and rows it holds and splits its
bytes into column-chunk data, parquet footers (thrift metadata plus the
8-byte length/magic trailer), page indexes (column + offset indexes,
between the last column chunk and the footer) and the Hadoop ``.crc``
side files; ``other`` is each file's leading magic plus any other file
(``_SUCCESS``), and ``overhead`` is the table's share of bytes that are
not column-chunk data. Then one line per column: its bytes and the
compression codecs and encodings found in its chunks. The files
outside any table dir (``_commits.json``) close the report.

Every file in the store is counted, committed or not (an orphan dir of
a crashed round shows up too), which is what the perfbench
``store_bytes_per_url`` metric sums.

Usage: python scripts/store_footprint.py STORE
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq

MAGIC = 4  # the leading "PAR1"
TRAILER = 8  # footer length (4) + trailing "PAR1" (4)


def parquet_split(path: str) -> dict:
    """Byte split of one parquet file, plus its per-column chunks."""
    md = pq.ParquetFile(path).metadata
    cols: dict[str, dict] = defaultdict(lambda: {"bytes": 0, "codecs": set(), "enc": set()})
    data = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            ch = rg.column(c)
            col = cols[ch.path_in_schema]
            col["bytes"] += ch.total_compressed_size
            col["codecs"].add(ch.compression)
            col["enc"].update(ch.encodings)
            data += ch.total_compressed_size
    size = os.path.getsize(path)
    footer = md.serialized_size + TRAILER
    return {
        "rows": md.num_rows,
        "size": size,
        "data": data,
        "footer": footer,
        "page_index": size - MAGIC - data - footer,
        "cols": cols,
    }


def table_footprint(tdir: str) -> dict:
    out = {"files": 0, "rows": 0, "data": 0, "footer": 0, "page_index": 0, "crc": 0,
           "other": 0, "total": 0}
    cols: dict[str, dict] = defaultdict(lambda: {"bytes": 0, "codecs": set(), "enc": set()})
    for d, _sub, names in os.walk(tdir):
        for n in names:
            p = os.path.join(d, n)
            size = os.path.getsize(p)
            out["total"] += size
            if n.endswith(".crc"):
                out["crc"] += size
            elif n.endswith(".parquet"):
                s = parquet_split(p)
                out["files"] += 1
                out["other"] += MAGIC
                for k in ("rows", "data", "footer", "page_index"):
                    out[k] += s[k]
                for name, c in s["cols"].items():
                    cols[name]["bytes"] += c["bytes"]
                    cols[name]["codecs"] |= c["codecs"]
                    cols[name]["enc"] |= c["enc"]
            else:
                out["other"] += size
    out["cols"] = dict(cols)
    return out


def report(root: str) -> str:
    lines = [
        f"{'table':<12}{'files':>7}{'rows':>10}{'data':>11}{'footer':>10}"
        f"{'pg_index':>10}{'crc':>9}{'other':>8}{'total':>11}{'overhead':>10}"
    ]
    col_lines = []
    grand, loose = 0, 0
    for name in sorted(os.listdir(root)):
        p = os.path.join(root, name)
        if not os.path.isdir(p):
            loose += os.path.getsize(p)
            continue
        t = table_footprint(p)
        grand += t["total"]
        over = t["total"] - t["data"]
        lines.append(
            f"{name:<12}{t['files']:>7}{t['rows']:>10}{t['data']:>11}{t['footer']:>10}"
            f"{t['page_index']:>10}{t['crc']:>9}{t['other']:>8}{t['total']:>11}"
            f"{over / max(t['total'], 1):>10.1%}"
        )
        for col, c in sorted(t["cols"].items()):
            col_lines.append(
                f"  {name + '.' + col:<30}{c['bytes']:>10}  {','.join(sorted(c['codecs'])):<14}"
                f"{','.join(sorted(c['enc']))}"
            )
    lines.append(f"{'(loose files)':<67}{loose:>11}")
    lines.append(f"{'store total':<67}{grand + loose:>11}")
    lines.append("")
    lines.append(f"  {'column':<30}{'bytes':>10}  {'codec':<14}encodings")
    return "\n".join(lines + col_lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    print(report(argv[1]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
