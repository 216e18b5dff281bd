#!/usr/bin/env python3
"""Bytes on disk of a CorpusStore root, split by row kind.

Usage: python3 scripts/store_bytes.py <store root>

Every file under the root is counted once. A file whose path holds a
`p_kind=<kind>` directory belongs to that kind, in one of three columns:
the parquet data files under `data/`, their Bloom sidecars under `_blooms/`
(which repeat the data file's `p_kind=` path), and the local filesystem's
`.crc` checksum files of either. Everything else (manifests, tick markers,
staged models, their checksums) is one `other` line. The last line is the
root's total.
"""

import os
import re
import sys

KIND = re.compile(r"(?:^|/)p_kind=([^/]+)/")


def split(root):
    """{kind: {"data"|"blooms"|"crc": bytes}} and the bytes outside any kind."""
    kinds, other = {}, 0
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            rel = os.path.relpath(path, root)
            size = os.path.getsize(path)
            m = KIND.search(rel)
            if m is None:
                other += size
                continue
            if name.endswith(".crc"):
                col = "crc"
            elif rel.startswith("_blooms" + os.sep):
                col = "blooms"
            else:
                col = "data"
            per = kinds.setdefault(m.group(1), {"data": 0, "blooms": 0, "crc": 0})
            per[col] += size
    return kinds, other


def main():
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__.strip())
    kinds, other = split(sys.argv[1])
    print(f"{'kind':<8}{'data':>12}{'blooms':>12}{'crc':>12}{'total':>12}")
    total = other
    for k in sorted(kinds):
        c = kinds[k]
        t = c["data"] + c["blooms"] + c["crc"]
        total += t
        print(f"{k:<8}{c['data']:>12,}{c['blooms']:>12,}{c['crc']:>12,}{t:>12,}")
    print(f"{'other':<8}{'':>36}{other:>12,}")
    print(f"{'total':<8}{'':>36}{total:>12,}")


if __name__ == "__main__":
    main()
