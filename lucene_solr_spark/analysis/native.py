"""One loader for the analyzers' compiled C kernels and on-disk caches.

A kernel is compiled on first use with the system C compiler into a
private per-user cache directory, ``<tempdir>/lss-cache-<uid>`` (mode
0700), as a content-hashed ``.so`` — one compile per host and user;
every later python worker just dlopens it. The directory must be owned
by the current user and must not be group- or world-writable; a
directory that fails the check is never read or written (someone else
could plant a library there), and callers fall back to their scalar
paths.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile
from typing import Optional


def cache_dir() -> Optional[str]:
    """The private per-user cache directory (created if missing), or
    None if it cannot be made or is not safe to use."""
    d = os.path.join(tempfile.gettempdir(), f"lss-cache-{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
    except OSError:
        return None
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)):
        return None
    return d


def load_kernel(name: str, src: str) -> Optional[ctypes.CDLL]:
    """Compile ``src`` (once per content hash) and dlopen it; None if
    the cache directory is unsafe or no working C compiler exists."""
    d = cache_dir()
    if d is None:
        return None
    h = hashlib.sha256(src.encode()).hexdigest()[:16]
    so = os.path.join(d, f"{name}_{h}.so")
    if not os.path.exists(so):
        csrc = tmp = None
        try:
            fd, csrc = tempfile.mkstemp(suffix=".c", dir=d)
            with os.fdopen(fd, "w") as f:
                f.write(src)
            fd2, tmp = tempfile.mkstemp(suffix=".so", dir=d)
            os.close(fd2)
            for cc in ("cc", "gcc", "clang"):
                try:
                    r = subprocess.run(
                        [cc, "-O3", "-shared", "-fPIC", "-o", tmp, csrc],
                        capture_output=True)
                except OSError:
                    continue  # this compiler is not installed
                if r.returncode == 0:
                    os.replace(tmp, so)  # atomic: racing procs agree
                    break
            else:
                return None
        except (OSError, subprocess.SubprocessError):
            return None
        finally:
            for p in (csrc, tmp):
                if p and os.path.exists(p):
                    try:
                        os.unlink(p)
                    except OSError:
                        pass
    try:
        return ctypes.CDLL(so)
    except OSError:
        return None
