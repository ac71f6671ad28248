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
  resolved by parsing ``registry._ensure_loaded``'s ``register(...)``
  calls with ``ast`` (no convention guessing);
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
import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
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

    The oracle symbol is the constant's name for attribute-form
    registrations and the HELPER FUNCTION's name for call-form
    (``mod._foo_oracle()``) ones — either way a top-level statement
    whose source segment we can track through history.
    """
    reg_path = REPO / PKG / "registry.py"
    tree = ast.parse(reg_path.read_text())

    # alias -> module relpath, from the ImportFrom statements inside
    # _ensure_loaded (``from .operators import dedup as d`` style)
    alias_file: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            base = node.module  # e.g. "operators"
            for al in node.names:
                name = al.asname or al.name
                rel = pathlib.Path(PKG, *base.split("."), f"{al.name}.py")
                if (REPO / rel).exists():
                    alias_file[name] = str(rel)

    out: dict[str, tuple[str, str, str | None]] = {}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            continue
        qname = node.args[0].value
        fn = node.args[1]
        assert isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name), (
            f"unexpected register() fn shape for {qname}"
        )
        relfile = alias_file[fn.value.id]
        oracle = node.args[2] if len(node.args) > 2 else None
        for kw in node.keywords:
            if kw.arg == "oracle":
                oracle = kw.value
        oracle_sym: str | None = None
        if isinstance(oracle, ast.Attribute):
            oracle_sym = oracle.attr
        elif isinstance(oracle, ast.Call) and isinstance(
            oracle.func, ast.Attribute
        ):
            oracle_sym = oracle.func.attr
        elif oracle is not None and not (
            isinstance(oracle, ast.Constant) and oracle.value is None
        ):
            raise AssertionError(f"unexpected oracle shape for {qname}")
        out[qname] = (relfile, fn.attr, oracle_sym)
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
