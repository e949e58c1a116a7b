#!/usr/bin/env python3
"""Synthetic XBRL filing-season rung (r17 — VERDICT r16 #4): replicate
the ferc1 2021 archive N times so the full-extract pipeline (x05's 255
batched parquet table writes, x01's parse, x03's coverage stats) is proven
beyond the real season's 10 filings.

Each replica i of a filing keeps its XML byte-for-byte except the
context entity identifiers, which gain an `R{i}` suffix — so replicas
are DISTINCT FILERS (the publication-time dedup must not collapse
them, and every per-entity stat scales exactly N x). The rssfeed is
replicated alongside with filenames prefixed `r{i}_` and publication
times shifted +i minutes (distinct times, same season). Replica 0 is
the original, byte-identical — the 1x subset stays embedded.

Every other archive in the data dir is symlinked, so the output dir is
a drop-in GRAFT_XBRL_DATA_DIR.

Usage: python3 tools/make_xbrl_season.py [replicas] [src_dir] [dst_dir]
Defaults: 10 /root/reference/tests/integration/data /tmp/xbrl_season10
"""
import json
import os
import re
import sys
import zipfile
from datetime import datetime, timedelta

REPLICAS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/reference/tests/integration/data"
DST = sys.argv[3] if len(sys.argv) > 3 else f"/tmp/xbrl_season{REPLICAS}"

ARCHIVE = "ferc1-xbrl-2021.zip"
IDENT = re.compile(r"(<identifier[^>]*>)([^<]+)(</identifier>)")
TIME_FMT = "%Y-%m-%d %H:%M:%S"


def main():
    os.makedirs(DST, exist_ok=True)
    for name in sorted(os.listdir(SRC)):
        dst = f"{DST}/{name}"
        if os.path.lexists(dst):
            os.remove(dst)
        if name != ARCHIVE:
            os.symlink(f"{SRC}/{name}", dst)

    src = zipfile.ZipFile(f"{SRC}/{ARCHIVE}")
    rss = json.loads(src.read("rssfeed"))
    out_rss = {}
    n_filings = 0
    with zipfile.ZipFile(f"{DST}/{ARCHIVE}", "w", zipfile.ZIP_DEFLATED) as out:
        for entry in sorted(src.namelist()):
            if not entry.endswith(".xbrl"):
                continue
            xml = src.read(entry).decode("utf-8")
            for i in range(REPLICAS):
                if i == 0:
                    out.writestr(entry, xml)
                else:
                    out.writestr(
                        f"r{i}_{entry}",
                        IDENT.sub(lambda m, i=i: m.group(1) + m.group(2) + f"R{i}" + m.group(3), xml))
                n_filings += 1
        for key, filings in rss.items():
            for i in range(REPLICAS):
                reps = []
                for f in filings:
                    g = json.loads(json.dumps(f))  # deep copy
                    if i > 0:
                        g["filename"] = f"r{i}_{f['filename']}"
                        t = datetime.strptime(
                            f["rss_metadata"]["published_parsed"], TIME_FMT)
                        g["rss_metadata"]["published_parsed"] = \
                            (t + timedelta(minutes=i)).strftime(TIME_FMT)
                    reps.append(g)
                out_rss[key if i == 0 else f"r{i}_{key}"] = reps
        out.writestr("rssfeed", json.dumps(out_rss))
    size = os.path.getsize(f"{DST}/{ARCHIVE}")
    print(f"{ARCHIVE}: {n_filings} filings ({REPLICAS}x), "
          f"{size/1e6:.1f} MB -> {DST}")


if __name__ == "__main__":
    main()
