"""Fast exact UAX#29 scanning: the SAME automaton as
analysis/uax29.py (Thompson NFAs over probed class tables, subset
determinization, longest-match with rule-order ties — the reference
JFlex scanner's semantics, StandardTokenizerImpl.jflex), materialized
ONCE into dense transition tables and driven by either:

- a ~40-line C kernel compiled on first use with the system compiler
  (cached as a content-hashed .so under /tmp, one compile per host;
  every python worker process just dlopens it) — the scan is then
  memory-bound (~2 table loads per codepoint), two orders of magnitude
  over the per-codepoint python scanner; or
- a dense-table tight python loop (list indexing, ~4x the
  frozenset/dict scanner) when no C compiler is available.

Table materialization: cp -> flag-combination id via one dense int16
LUT over the full codepoint space (2 MiB), built from the probed
RANGES exactly as uax29._symbol classifies; the lazily-determinized
scanner is exhaustively determinized (BFS over statesets x alphabet)
into T[state, sym] + accept-rule A[state], dead state 0, start 1, with
A holding min(rule idx) per stateset — JFlex longest-match + rule-order
tie-break preserved (identical to _Scanner._accept_rule). The
maxTokenLength window (UTF-16 units; StandardTokenizer
.setMaxTokenLength chops over-long runs) is enforced with a UTF-16
prefix-sum, checked before each step exactly like _Scanner.longest.

Exactness is enforced by differential tests vs uax29.segment (which is
itself fuzz-verified against the reference DFA with zero divergences —
tools/fuzz_uax29.py) over the same multilingual pools.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import zipfile
from typing import List, Optional, Tuple

import numpy as np

# NOTE: uax29 / uax29_tables are imported LAZILY (only when the
# dense tables must actually be BUILT): parsing the uax29_tables
# module costs ~0.37s per process, and with the on-disk table cache
# below a warm python worker never needs it.

_tables = None


class _Tables:
    __slots__ = ("lut", "T1C", "A2", "rules", "sep", "C", "startC",
                 "T1C_list", "A2_list", "rules_list", "lowlut")


def _build_tables() -> _Tables:
    from . import uax29 as _u
    from .uax29_tables import RANGES

    # 1. disjoint intervals covering the codepoint space
    pts = {0, 0x110000}
    for ranges in RANGES.values():
        for a, b in ranges:
            pts.add(a)
            pts.add(b + 1)
    bounds = np.array(sorted(pts), dtype=np.int64)
    flags = sorted(RANGES)
    starts = bounds[:-1]
    member = {}
    for f in flags:
        fs = np.array([a for a, _ in RANGES[f]], dtype=np.int64)
        fe = np.array([b for _, b in RANGES[f]], dtype=np.int64)
        i = np.searchsorted(fs, starts, side="right") - 1
        member[f] = (i >= 0) & (starts <= fe[np.maximum(i, 0)])
    combos: List[frozenset] = []
    combo_ids: dict = {}
    interval_combo = np.zeros(len(starts), dtype=np.int16)
    for k in range(len(starts)):
        fset = frozenset(f for f in flags if member[f][k])
        cid = combo_ids.get(fset)
        if cid is None:
            cid = combo_ids[fset] = len(combos)
            combos.append(fset)
        interval_combo[k] = cid
    lut = np.repeat(interval_combo, np.diff(bounds))
    assert lut.shape[0] == 0x110000
    # 2. register every combo in the scalar scanner's alphabet so the
    # determinized machine covers the full static alphabet (the scalar
    # module grows it lazily; pre-touching one representative cp per
    # interval is exactly how _symbol would see them)
    for k in range(len(starts)):
        _u._symbol(int(starts[k]))
    sc = _u._scanner_now()
    combo_sym = [None] * len(combos)
    for fset, cid in combo_ids.items():
        combo_sym[cid] = _u._combo_symbol[fset]
    # 3. exhaustive subset construction over the alphabet
    state_ids = {frozenset(): 0, sc.start: 1}
    worklist = [sc.start]
    trans_rows = {0: [0] * len(combos)}
    accepts = {0: -1, 1: sc._accept_rule(sc.start)}
    while worklist:
        ss = worklist.pop()
        sid = state_ids[ss]
        row = [0] * len(combos)
        for cid in range(len(combos)):
            nxt = sc._step(ss, combo_sym[cid])
            nid = state_ids.get(nxt)
            if nid is None:
                nid = state_ids[nxt] = len(state_ids)
                accepts[nid] = sc._accept_rule(nxt) if nxt else -1
                worklist.append(nxt)
            row[cid] = nid
        trans_rows[sid] = row
    C = len(combos)
    n_states = len(state_ids)
    T = np.zeros((n_states, C), dtype=np.int32)
    A = np.full(n_states, -1, dtype=np.int8)
    for sid, row in trans_rows.items():
        T[sid] = row
        A[sid] = accepts[sid]
    t = _Tables()
    t.lut = lut
    t.C = C
    t.startC = C  # state 1, pre-multiplied by C
    t.T1C = np.ascontiguousarray(
        (T.astype(np.int64) * C).ravel().astype(np.int32))
    t.A2 = np.ascontiguousarray(np.repeat(A, C))  # index: premult state
    t.sep = combo_ids[frozenset()]
    t.rules = np.array(sc.rules, dtype=np.int8)
    t.T1C_list = t.T1C.tolist()
    t.A2_list = t.A2.tolist()
    t.rules_list = list(sc.rules)
    t.lowlut = _build_lower_lut()
    return t


def _tables_cache_path() -> str:
    """Content-hashed on-disk cache of the dense tables: keyed on the
    bytes of the modules the build depends on, so any change to the
    scalar scanner, the probed ranges or this builder invalidates it.
    ~0.5s build per python worker process otherwise — across a reused
    32-worker pool that is ~16s of first-query latency (measured as
    the round-4 q_uax29_multilingual cold-vs-warm residual)."""
    base = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for name in ("uax29.py", "uax29_tables.py", "uax29_vec.py"):
        with open(os.path.join(base, name), "rb") as f:
            h.update(f.read())
    return os.path.join(tempfile.gettempdir(),
                        f"uax29_tables_{h.hexdigest()[:16]}.npz")


def _tab() -> _Tables:
    global _tables
    if _tables is None:
        path = _tables_cache_path()
        try:
            z = np.load(path)
            t = _Tables()
            t.lut = z["lut"]
            t.T1C = np.ascontiguousarray(z["T1C"])
            t.A2 = np.ascontiguousarray(z["A2"])
            t.rules = z["rules"]
            t.C = int(z["C"])
            t.startC = int(z["startC"])
            t.sep = int(z["sep"])
            t.lowlut = np.ascontiguousarray(z["lowlut"])
            t.T1C_list = t.T1C.tolist()
            t.A2_list = t.A2.tolist()
            t.rules_list = t.rules.tolist()
            _tables = t
            return _tables
        except (OSError, KeyError, ValueError, EOFError,
                zipfile.BadZipFile):
            pass  # missing, truncated or foreign cache: rebuild
        _tables = _build_tables()
        try:
            fd, tmp = tempfile.mkstemp(suffix=".npz")
            os.close(fd)
            np.savez(tmp, lut=_tables.lut, T1C=_tables.T1C,
                     A2=_tables.A2, rules=_tables.rules,
                     C=_tables.C, startC=_tables.startC,
                     sep=_tables.sep, lowlut=_tables.lowlut)
            os.replace(tmp, path)  # atomic: racing workers agree
        except OSError:
            pass
    return _tables


def _cps(text: str) -> np.ndarray:
    return np.frombuffer(
        text.encode("utf-32-le", "surrogatepass"),
        dtype=np.uint32).astype(np.int64)


# ----------------------------------------------------------- C kernel

_C_SRC = r"""
#include <stdint.h>

/* Exact uax29._Scanner scan over a flat symbol array.  Per doc d,
   scan [doc_start[d], doc_lim[d]).  Longest match with rule-order
   tie-break is baked into the tables (A2 = min rule per stateset);
   the UTF-16 window cap is checked BEFORE each step, exactly like
   _Scanner.longest.  Emits (abs_start, abs_end, rule); returns the
   token count.  out arrays must hold >= total codepoints. */
int64_t uax29_scan(const int32_t* S, const int64_t* pwx,
                   const int32_t* T1C, const int8_t* A2,
                   int32_t sep, int32_t startC, int64_t cap,
                   const int64_t* doc_start, const int64_t* doc_lim,
                   int64_t ndocs,
                   int64_t* out_a, int64_t* out_b, int8_t* out_r)
{
    int64_t m = 0;
    for (int64_t d = 0; d < ndocs; d++) {
        int64_t i = doc_start[d];
        const int64_t lim = doc_lim[d];
        while (i < lim) {
            if (S[i] == sep) { i++; continue; }
            int32_t st = startC;
            int64_t j = i, blen = 0;
            int8_t brule = -1;
            const int64_t base = pwx[i] + cap;
            while (j < lim) {
                if (pwx[j + 1] > base) break;
                st = T1C[st + S[j]];
                if (!st) break;
                j++;
                const int8_t r = A2[st];
                if (r >= 0) { blen = j - i; brule = r; }
            }
            if (blen) {
                out_a[m] = i; out_b[m] = i + blen; out_r[m] = brule;
                m++; i += blen;
            } else {
                i++;
            }
        }
    }
    return m;
}
"""

_clib = None
_clib_tried = False


def _compile_kernel() -> Optional[ctypes.CDLL]:
    """Compile (once per host, content-hashed cache) and dlopen the
    scan kernel; None if no working C compiler."""
    h = hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]
    so = os.path.join(tempfile.gettempdir(), f"uax29_kernel_{h}.so")
    if not os.path.exists(so):
        tmp = None
        try:
            fd, csrc = tempfile.mkstemp(suffix=".c")
            with os.fdopen(fd, "w") as f:
                f.write(_C_SRC)
            fd2, tmp = tempfile.mkstemp(suffix=".so")
            os.close(fd2)
            for cc in ("cc", "gcc", "clang"):
                r = subprocess.run(
                    [cc, "-O3", "-shared", "-fPIC", "-o", tmp, csrc],
                    capture_output=True)
                if r.returncode == 0:
                    os.replace(tmp, so)  # atomic: racing procs agree
                    break
            else:
                return None
        except (OSError, subprocess.SubprocessError):
            return None
        finally:
            try:
                os.unlink(csrc)
            except OSError:
                pass
            if tmp and os.path.exists(tmp):
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    lib.uax29_scan.restype = ctypes.c_int64
    lib.uax29_scan.argtypes = [
        ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_void_p, ctypes.c_int32, ctypes.c_int32,
        ctypes.c_int64, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_int64, ctypes.c_void_p, ctypes.c_void_p,
        ctypes.c_void_p]
    return lib


def _kernel() -> Optional[ctypes.CDLL]:
    global _clib, _clib_tried
    if not _clib_tried:
        _clib_tried = True
        _clib = _compile_kernel()
    return _clib


def _scan_c(texts: List[str], max_token_length: int, lib: ctypes.CDLL):
    """(off, splits, ac, bc, rc, flat): absolute token spans, per-doc
    split offsets into them, and the batch's flat codepoint array."""
    t = _tab()
    B = len(texts)
    cap = max_token_length if max_token_length else 1 << 60
    lens = np.array([len(x) for x in texts], dtype=np.int64)
    off = np.zeros(B + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    # one pass: join + encode the whole batch (no per-doc numpy calls)
    flat = np.frombuffer(
        "".join(texts).encode("utf-32-le", "surrogatepass"),
        dtype=np.uint32)
    total = int(off[-1])
    S = np.ascontiguousarray(t.lut[flat].astype(np.int32))
    pwx = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(np.where(flat > 0xFFFF, 2, 1), out=pwx[1:])
    out_a = np.empty(total, dtype=np.int64)
    out_b = np.empty(total, dtype=np.int64)
    out_r = np.empty(total, dtype=np.int8)
    doc_start = np.ascontiguousarray(off[:B])
    doc_lim = np.ascontiguousarray(off[1:])
    m = lib.uax29_scan(
        S.ctypes.data, pwx.ctypes.data, t.T1C.ctypes.data,
        t.A2.ctypes.data, t.sep, t.startC, cap,
        doc_start.ctypes.data, doc_lim.ctypes.data, B,
        out_a.ctypes.data, out_b.ctypes.data, out_r.ctypes.data)
    ac, bc = out_a[:m], out_b[:m]
    rc = t.rules[out_r[:m]]
    splits = np.searchsorted(ac, off)
    return off, splits, ac, bc, rc, flat


# --------------------------------------------------- dense python loop

def _capped_rescan(S: list, pwx: list, i: int, n: int, cap: int,
                   t: _Tables) -> Tuple[int, int]:
    """Exact uax29._Scanner.longest with the UTF-16 window cap —
    only reached when the uncapped winner overflowed the window."""
    T1C, A2 = t.T1C_list, t.A2_list
    st = t.startC
    blen, brule = 0, -1
    j = i
    base = pwx[i]
    while j < n:
        if pwx[j + 1] - base > cap:
            break
        st = T1C[st + S[j]]
        if st == 0:
            break
        j += 1
        r = A2[st]
        if r >= 0:
            blen, brule = j - i, r
    return blen, brule


def _segment_dense(text: str, max_token_length: int = 255
                   ) -> List[Tuple[int, int, int]]:
    """uax29.segment over the dense tables, tight scalar loop.  The
    window cap is applied lazily: scan uncapped, and only if the
    winner overflows the UTF-16 window (rare) rescan that one token
    capped — identical because breaking at the cap can only discard
    accepts BEYOND the window."""
    t = _tab()
    n = len(text)
    if n == 0:
        return []
    cps = _cps(text)
    S = t.lut[cps].tolist()
    pwx_arr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.where(cps > 0xFFFF, 2, 1), out=pwx_arr[1:])
    pwx = pwx_arr.tolist()
    cap = max_token_length if max_token_length else 1 << 60
    T1C, A2, RUL = t.T1C_list, t.A2_list, t.rules_list
    SEP, START = t.sep, t.startC
    out: List[Tuple[int, int, int]] = []
    i = 0
    while i < n:
        if S[i] == SEP:
            i += 1
            continue
        st = START
        j = i
        blen = 0
        brule = -1
        while j < n:
            st = T1C[st + S[j]]
            if st == 0:
                break
            j += 1
            r = A2[st]
            if r >= 0:
                blen = j - i
                brule = r
        if blen:
            if pwx[i + blen] - pwx[i] > cap:
                blen, brule = _capped_rescan(S, pwx, i, n, cap, t)
                if blen == 0:
                    i += 1
                    continue
            out.append((i, i + blen, RUL[brule]))
            i += blen
        else:
            i += 1
    return out


# ----------------------------------------------------------- batch API

def segment_batch(texts: List[str], max_token_length: int = 255
                  ) -> List[List[Tuple[int, int, int]]]:
    """uax29.segment for every string of ``texts`` — C kernel when a
    compiler is available, dense python loop otherwise.  Returns
    per-string [(start, end, type)] over codepoint indexes, identical
    to the scalar scanner (differentially tested)."""
    B = len(texts)
    if B == 0:
        return []
    lib = _kernel()
    if lib is None:
        return [_segment_dense(x, max_token_length) for x in texts]
    off, splits, ac, bc, rc, _ = _scan_c(texts, max_token_length, lib)
    al = (ac - off[np.searchsorted(off, ac, side="right") - 1]).tolist()
    ln = (bc - ac).tolist()
    rl = rc.tolist()
    out = []
    for k in range(B):
        s, e = splits[k], splits[k + 1]
        out.append([(al[i], al[i] + ln[i], rl[i]) for i in range(s, e)])
    return out


# ------------------------------------------------ vectorized lowercase

_lower_cache: dict = {}
_lower_lut = None


def _lower_cp(cp: int) -> int:
    from .uax29_tables import LOWER_EXC
    r = _lower_cache.get(cp)
    if r is None:
        if cp in LOWER_EXC:
            r = LOWER_EXC[cp]
        else:
            low = chr(cp).lower()
            r = ord(low) if len(low) == 1 else cp
        _lower_cache[cp] = r
    return r


def _build_lower_lut() -> np.ndarray:
    """Dense Character.toLowerCase(int) table (~0.3s — built once per
    HOST alongside the scan tables and served from the npz cache)."""
    from .uax29_tables import LOWER_EXC
    lut = np.fromiter(
        (ord(c2) if len(c2 := chr(c).lower()) == 1 else c
         for c in range(0x110000)),
        dtype=np.int64, count=0x110000)
    for cp, lo in LOWER_EXC.items():
        lut[cp] = lo
    return lut.astype(np.uint32)


def _lower_lut_now() -> np.ndarray:
    global _lower_lut
    if _lower_lut is None:
        _lower_lut = _tab().lowlut
    return _lower_lut


def lower_flat(flat: np.ndarray) -> np.ndarray:
    """Character.toLowerCase(int) parity (uax29.simple_lower) over a
    codepoint array: unique codepoints -> cached simple mapping."""
    if flat.size == 0:
        return flat
    uniq, inv = np.unique(flat, return_inverse=True)
    mapped = np.array([_lower_cp(int(c)) for c in uniq], dtype=np.int64)
    return mapped[inv]


def standard_tokenize_batch(texts: List[str],
                            max_token_length: int = 255
                            ) -> List[Tuple[List[str], List[int]]]:
    """Batch StandardAnalyzer (tokenize + lowercase): returns
    [(terms, positions)] per string — the semantics of
    analyzers.standard_tokenize's scanner path, vectorized end to end:
    C-kernel scan, ONE lowercase-LUT gather + ONE utf-32 decode for
    the whole batch, then plain string slices per token."""
    B = len(texts)
    if B == 0:
        return []
    lib = _kernel()
    res: List[Tuple[List[str], List[int]]] = []
    if lib is not None:
        off, splits, ac, bc, rc, flat = _scan_c(
            texts, max_token_length, lib)
        low_all = _lower_lut_now()[flat].tobytes().decode(
            "utf-32-le", "surrogatepass")
        al = ac.tolist()
        bl = bc.tolist()
        sp = splits.tolist()
        for k in range(B):
            s, e = sp[k], sp[k + 1]
            if s == e:
                res.append(([], []))
                continue
            terms = [low_all[al[i]:bl[i]] for i in range(s, e)]
            res.append((terms, list(range(e - s))))
        return res
    for text in texts:
        spans = _segment_dense(text, max_token_length)
        if not spans:
            res.append(([], []))
            continue
        low = lower_flat(_cps(text)).astype("<u4").tobytes()
        terms = [low[4 * a:4 * b].decode("utf-32-le", "surrogatepass")
                 for a, b, _ in spans]
        res.append((terms, list(range(len(terms)))))
    return res
