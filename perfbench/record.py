"""Machine fingerprint and stamped result files."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import subprocess
import sys
import time


def _mem_total_mb() -> float | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return None


def _version(mod: str) -> str | None:
    try:
        return __import__(mod).__version__
    except (ImportError, AttributeError):
        return None


def source_state(root: str) -> dict:
    """git sha + dirty flag when ``root`` is a git work tree; always a
    digest of the engine sources, so a checkout without git is identified."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "nightcrawler_ds_pipeline_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    out = {"engine_sha256": h.hexdigest()[:16], "git_sha": None, "git_dirty": None}
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            run = lambda *a: subprocess.run(  # noqa: E731
                ["git", "-C", root, *a], capture_output=True, text=True, timeout=10
            ).stdout.strip()
            out["git_sha"] = run("rev-parse", "HEAD") or None
            out["git_dirty"] = bool(run("status", "--porcelain"))
        except (OSError, subprocess.SubprocessError):
            pass
    return out


def fingerprint(root: str, nproc: int) -> dict:
    return {
        "nproc": nproc,
        "mem_total_mb": _mem_total_mb(),
        "platform": platform.platform(),
        "python": sys.version.split()[0],
        "pyspark": _version("pyspark"),
        "duckdb": _version("duckdb"),
        "pandas": _version("pandas"),
        "numpy": _version("numpy"),
        **source_state(root),
    }


def write_stamped(results_dir: str, stem: str, record: dict) -> str:
    """Write ``record`` to a new file named by UTC time, pid and ``stem``;
    existing files are never overwritten."""
    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    path = os.path.join(results_dir, f"{stamp}-{os.getpid()}-{stem}.json")
    with open(path, "x") as f:
        json.dump(record, f, indent=1, default=str)
    return path
