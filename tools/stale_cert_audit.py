"""Stale-certification audit (round-10 verdict ask #2).

A driver CORRECTNESS row certifies the implementation AS OF the round
it ran; a later edit to the implementing function (or its DuckDB
oracle) silently de-certifies it unless the builder remembers to put
the query back in the rotation window — the round-8 ``small_qty_revenue``
incident, automated.

For every registered query this tool determines

- the IMPLEMENTING SOURCE: the query function's def and (when the
  registration binds one) the oracle — a module constant's assignment
  statement, or the generating helper's def for call-form oracles —
  read from the declaration ``registry.query`` stores on the function
  (no convention guessing);
- the LAST-CHANGE COMMIT: walking the implementing file's git history
  (newest first) and extracting the exact source segments from each
  blob, the newest commit whose segments differ from the next-older
  blob's. Whole-file timestamps would over-flag (every round touches
  the big operator modules); segment diffing is function-level.
- the NEWEST GREEN ROW: the latest round whose CORRECTNESS_r{N}.json
  has ``hash_match`` for the query, timestamped by the commit that
  last touched that file (the driver commits it at round end, AFTER
  the gate ran, so commit order is certification order).

A query is STALE when its last-change commit is newer than its newest
green row. Known limitation (documented, accepted): a behavior change
in a shared helper or module constant the segments merely reference
does not flag — the round window's manual re-cert list still covers
that class (the r09 RECERT discipline).

Usage:
    python tools/stale_cert_audit.py            # prints report JSON
    python tools/stale_cert_audit.py --names    # stale names only,
                                                # oldest green row first
"""

from __future__ import annotations

import ast
import inspect
import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
# The package is imported from this checkout, whatever the caller's path.
sys.path.insert(0, str(REPO))
PKG = "_kafka_streams_scaffold_spark"
# Derived by glob, not a literal range: the r10 verdict found the
# hardcoded r01..r09 list would hide CORRECTNESS_r10.json's 50 green
# rows from _green_rows() and over-flag the whole r10 window as stale.
ROUNDS = sorted(
    p.stem.removeprefix("CORRECTNESS_")
    for p in REPO.glob("CORRECTNESS_r*.json")
)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout


def _registrations() -> dict[str, tuple[str, str, str | None]]:
    """name -> (module relpath, funcname, oracle symbol name or None).

    Read from the ``Declaration`` that ``registry.query`` stores on each
    query function. The oracle symbol is the module attribute it names:
    a constant, or the helper function that fills a template. Either
    way it is a top-level statement whose source segment we can track
    through history.
    """
    from _kafka_streams_scaffold_spark import registry

    out: dict[str, tuple[str, str, str | None]] = {}
    for qname, fn in registry.queries().items():
        relfile = pathlib.Path(inspect.getfile(fn)).resolve().relative_to(REPO)
        out[qname] = (str(relfile), fn.__name__, fn.declaration.oracle)
    return out


def _segments(src: str, names: set[str]) -> dict[str, str | None]:
    """Source segment of each top-level def/assignment in ``names``."""
    got: dict[str, str | None] = dict.fromkeys(names)
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return got
    for node in tree.body:
        key: str | None = None
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            key = node.name
        elif isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(
            node.targets[0], ast.Name
        ):
            key = node.targets[0].id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            key = node.target.id
        if key in got:
            got[key] = ast.get_source_segment(src, node)
    return got


def _file_history(relfile: str) -> list[tuple[str, int]]:
    lines = _git("log", "--format=%H %ct", "--", relfile).splitlines()
    return [(h, int(t)) for h, t in (ln.split() for ln in lines)]


def _blob(sha: str, relfile: str) -> str | None:
    try:
        return _git("show", f"{sha}:{relfile}")
    except subprocess.CalledProcessError:
        return None


def _green_rows() -> dict[str, str]:
    """query -> newest round with a hash_match green row."""
    newest: dict[str, str] = {}
    for rnd in ROUNDS:
        p = REPO / f"CORRECTNESS_{rnd}.json"
        if not p.exists():
            continue
        for name, row in json.loads(p.read_text()).items():
            if row.get("hash_match"):
                newest[name] = rnd  # rounds iterate oldest->newest
    return newest


def _round_ts() -> dict[str, int]:
    ts: dict[str, int] = {}
    for rnd in ROUNDS:
        out = _git("log", "-1", "--format=%ct", "--", f"CORRECTNESS_{rnd}.json")
        if out.strip():
            ts[rnd] = int(out.strip())
    return ts


def main() -> int:
    regs = _registrations()
    green = _green_rows()
    rts = _round_ts()

    # group queries by file so each blob parses once
    by_file: dict[str, dict[str, tuple[str, str | None]]] = {}
    for q, (relfile, fname, osym) in regs.items():
        by_file.setdefault(relfile, {})[q] = (fname, osym)

    report: dict[str, dict] = {}
    for relfile, qmap in sorted(by_file.items()):
        names = {n for f, o in qmap.values() for n in (f, o) if n}
        hist = _file_history(relfile)
        segs: list[dict[str, str | None]] = []
        for sha, _t in hist:
            src = _blob(sha, relfile)
            segs.append(_segments(src, names) if src is not None else
                        dict.fromkeys(names))
        for q, (fname, osym) in qmap.items():
            keys = [fname] + ([osym] if osym else [])

            def _sig(i: int) -> tuple:
                return tuple(segs[i][k] for k in keys)

            last_sha, last_ts = hist[0]
            for i in range(len(hist)):
                if i + 1 == len(hist) or _sig(i) != _sig(i + 1):
                    last_sha, last_ts = hist[i]
                    break
            rnd = green.get(q)
            cert_ts = rts.get(rnd) if rnd else None
            report[q] = {
                "file": relfile,
                "function": fname,
                "oracle_symbol": osym,
                "last_change_commit": last_sha,
                "last_change_ts": last_ts,
                "green_round": rnd,
                "green_ts": cert_ts,
                "stale": bool(cert_ts is not None and last_ts > cert_ts),
                "never_certified": rnd is None,
            }

    stale = sorted(
        (q for q, r in report.items() if r["stale"]),
        key=lambda q: (report[q]["green_ts"], q),
    )
    if "--names" in sys.argv:
        for q in stale:
            print(q)
        return 0
    print(
        json.dumps(
            {
                "n_queries": len(report),
                "n_stale": len(stale),
                "stale_oldest_green_first": stale,
                "never_certified": sorted(
                    q for q, r in report.items() if r["never_certified"]
                ),
                "queries": report,
            },
            indent=1,
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
