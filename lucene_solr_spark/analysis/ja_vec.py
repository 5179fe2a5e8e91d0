"""Compiled Japanese Viterbi lattice: the SAME algorithm as
analysis/ja.ja_tokenize (kuromoji-class SEARCH-mode lattice,
reimplemented from JapaneseTokenizer.java semantics — see ja.py's
module docstring for the reference map), with the per-UTF-16-unit
inner loop run by a C kernel compiled on first use (content-hashed
.so in the per-user cache of analysis/native.py, like uax29_vec)
instead of the per-unit python loop.

Table materialization (once per process, from the loaded _JaDict):

- surface trie over UTF-16 units in CSR form (node -> sorted edge
  units + child ids; node -> terminal word-id span) — equivalent to
  ja.py's all-prefix dict probe (finals in increasing-length order);
  surfaces containing astral codepoints are skipped because the
  scalar path's dict probe compares raw surfaces against UTF-16-unit
  slices and can never match them either;
- dense 0x10000 char-class tables (cls/invoke/group/kanji/punct);
- unknown-dictionary CSR per character class;
- the IPADIC connection matrix as the flat int16 it already is.

The kernel replicates the scalar path arc-for-arc: strict-min Viterbi
with first-wins ties, search-mode long-token penalties on every
candidate, frontier single-node commits with cost re-base, and
punctuation-first-char discard at backtrace.  The one deliberately
unimplemented branch is the MAX_BACKTRACE_GAP=1024 safety prune
(>=1024 units with no frontier commit — pathological input): the
kernel detects the condition, reports the doc, and the wrapper
re-runs exactly those docs through the scalar path, so behavior is
identical by construction.

Exactness is enforced by differential tests vs ja.ja_tokenize (which
is itself verified token-for-token against the reference analyzer on
the same dictionary) over the golden lines plus adversarial pools —
tests/test_r7a_ja_vec.py.
"""

from __future__ import annotations

import ctypes
from typing import List, Optional, Tuple

import numpy as np

from . import ja as _ja
from . import native

_tables = None


class _Tables:
    __slots__ = ("t_eoff", "t_eunit", "t_echild", "t_woff", "t_wid",
                 "max_word_len", "e_left", "e_cost", "cls", "invoke",
                 "group", "kanji", "punct", "unk_off", "unk_uid",
                 "u_left", "u_cost", "M", "mcols")


def _build_tables() -> _Tables:
    d = _ja._load()
    t = _Tables()
    # ---- surface trie (CSR, edges sorted by unit for binary search)
    # node 0 = root; children maps built breadth-first
    children: List[dict] = [{}]
    terminal: List[List[int]] = [[]]
    max_word_len = 1
    for surface, wids in d.by_surface.items():
        if any(ord(c) > 0xFFFF for c in surface):
            continue  # unreachable in the scalar path too (see doc)
        node = 0
        for ch in surface:
            u = ord(ch)
            nxt = children[node].get(u)
            if nxt is None:
                nxt = len(children)
                children[node][u] = nxt
                children.append({})
                terminal.append([])
            node = nxt
        terminal[node].extend(wids)
        if len(surface) > max_word_len:
            max_word_len = len(surface)
    nn = len(children)
    t_eoff = np.zeros(nn + 1, dtype=np.int32)
    eunit: List[int] = []
    echild: List[int] = []
    t_woff = np.zeros(nn + 1, dtype=np.int32)
    wid_list: List[int] = []
    for i in range(nn):
        for u in sorted(children[i]):
            eunit.append(u)
            echild.append(children[i][u])
        t_eoff[i + 1] = len(eunit)
        wid_list.extend(sorted(terminal[i]))
        t_woff[i + 1] = len(wid_list)
    t.t_eoff = np.ascontiguousarray(t_eoff)
    t.t_eunit = np.ascontiguousarray(np.array(eunit, dtype=np.int32))
    t.t_echild = np.ascontiguousarray(np.array(echild, dtype=np.int32))
    t.t_woff = np.ascontiguousarray(t_woff)
    t.t_wid = np.ascontiguousarray(np.array(wid_list, dtype=np.int32))
    t.max_word_len = max_word_len
    # ---- entries / unknown / char tables / matrix
    t.e_left = np.ascontiguousarray(np.array(d.e_left, dtype=np.int32))
    t.e_cost = np.ascontiguousarray(np.array(d.e_cost, dtype=np.int32))
    t.cls = np.ascontiguousarray(np.array(d.cls, dtype=np.int32))
    t.invoke = np.ascontiguousarray(
        np.array(d.invoke, dtype=np.uint8))
    t.group = np.ascontiguousarray(np.array(d.group, dtype=np.uint8))
    t.kanji = np.ascontiguousarray(np.array(d.kanji, dtype=np.uint8))
    t.punct = np.ascontiguousarray(np.array(d.punct, dtype=np.uint8))
    ncls = int(t.cls.max()) + 1
    unk_off = np.zeros(ncls + 1, dtype=np.int32)
    unk_uid: List[int] = []
    for cid in range(ncls):
        unk_uid.extend(d.unk_by_class.get(cid, ()))
        unk_off[cid + 1] = len(unk_uid)
    t.unk_off = np.ascontiguousarray(unk_off)
    t.unk_uid = np.ascontiguousarray(np.array(unk_uid, dtype=np.int32))
    t.u_left = np.ascontiguousarray(np.array(d.u_left, dtype=np.int32))
    t.u_cost = np.ascontiguousarray(np.array(d.u_cost, dtype=np.int32))
    m = np.array(d.M, dtype=np.int16)
    t.M = np.ascontiguousarray(m.ravel())
    t.mcols = m.shape[1]
    return t


def _tab() -> _Tables:
    global _tables
    if _tables is None:
        _tables = _build_tables()
    return _tables


# ----------------------------------------------------------- C kernel

_C_SRC = r"""
#include <stdint.h>
#include <stdlib.h>

/* Exact ja.ja_tokenize lattice per doc (see python module docstring).
   Emits (abs_unit_pos, len, word_id, type[0=known,1=unk]) per token,
   a per-doc token count, and fallback[d]=1 (emitting no tokens) when
   the doc hits the MAX_BACKTRACE_GAP prune branch the kernel
   deliberately leaves to the scalar path.  Returns total tokens, or
   -1 on allocation failure. */

#define KANJI_PEN_LEN 2
#define OTHER_PEN_LEN 7
#define KANJI_PEN 3000
#define OTHER_PEN 1700
#define MAX_UNK_LEN 1024
#define MAX_GAP 1024

typedef struct {
    const int32_t *U;           /* doc units, relative base */
    const uint8_t *punct;
    int64_t *a_cost;
    int32_t *a_right, *a_bpos, *a_bidx, *a_id;
    int8_t *a_ty;
    int64_t *off;               /* per-position arena offsets */
    int32_t *acnt;              /* per-position fill counts */
    int64_t next_pos, last_bt;
    /* backtrace scratch */
    int32_t *tb_pos, *tb_len, *tb_id;
    int8_t *tb_ty;
} Lat;

static void lat_backtrace(Lat *L, int64_t end_p, int32_t idx,
                          int64_t abs_base, int64_t *m,
                          int64_t *out_pos, int32_t *out_len,
                          int32_t *out_id, int8_t *out_ty)
{
    int64_t p = end_p, k = 0;
    int32_t best = idx;
    while (p > L->last_bt) {
        int64_t b = L->off[p] + best;
        int32_t bpos = L->a_bpos[b];
        int32_t len = (int32_t)(p - bpos);
        if (len == 0 || !L->punct[L->U[bpos]]) {
            L->tb_pos[k] = bpos;
            L->tb_len[k] = len;
            L->tb_id[k] = L->a_id[b];
            L->tb_ty[k] = L->a_ty[b];
            k++;
        }
        best = L->a_bidx[b];
        p = bpos;
    }
    L->last_bt = end_p;
    while (k > 0) {
        k--;
        out_pos[*m] = abs_base + L->tb_pos[k];
        out_len[*m] = L->tb_len[k];
        out_id[*m] = L->tb_id[k];
        out_ty[*m] = L->tb_ty[k];
        (*m)++;
    }
}

int64_t ja_lattice(const int32_t *U_all,
                   const int64_t *doc_start, const int64_t *doc_lim,
                   int64_t ndocs,
                   const int32_t *t_eoff, const int32_t *t_eunit,
                   const int32_t *t_echild, const int32_t *t_woff,
                   const int32_t *t_wid, int32_t max_word_len,
                   const int32_t *e_left, const int32_t *e_cost,
                   const int32_t *cls, const uint8_t *invoke,
                   const uint8_t *group, const uint8_t *kanji,
                   const uint8_t *punct,
                   const int32_t *unk_off, const int32_t *unk_uid,
                   const int32_t *u_left, const int32_t *u_cost,
                   const int16_t *M, int32_t mcols,
                   int64_t *out_pos, int32_t *out_len,
                   int32_t *out_id, int8_t *out_ty,
                   int64_t *out_ndoc, uint8_t *fallback)
{
    int64_t m = 0;
    for (int64_t dd = 0; dd < ndocs; dd++) {
        const int64_t start = doc_start[dd];
        const int64_t n = doc_lim[dd] - start;
        fallback[dd] = 0;
        out_ndoc[dd] = 0;
        if (n <= 0) continue;
        const int32_t *U = U_all + start;

        /* ---- pass 1: per-end-position arc-count upper bound ---- */
        int64_t *cnt = (int64_t *)calloc((size_t)(n + 2),
                                         sizeof(int64_t));
        if (!cnt) return -1;
        cnt[0] = 1; /* seed arc */
        for (int64_t p = 0; p < n; p++) {
            int32_t node = 0, any = 0;
            int64_t lim = max_word_len;
            if (n - p < lim) lim = n - p;
            for (int64_t ln = 1; ln <= lim; ln++) {
                const int32_t u = U[p + ln - 1];
                int32_t lo = t_eoff[node], hi = t_eoff[node + 1];
                int32_t child = -1;
                while (lo < hi) {
                    int32_t mid = (lo + hi) >> 1;
                    if (t_eunit[mid] < u) lo = mid + 1;
                    else if (t_eunit[mid] > u) hi = mid;
                    else { child = t_echild[mid]; break; }
                }
                if (child < 0) break;
                node = child;
                const int32_t wc = t_woff[node + 1] - t_woff[node];
                if (wc) { cnt[p + ln] += wc; any = 1; }
            }
            const int32_t fc = U[p];
            if (!any || invoke[fc]) {
                const int32_t cid = cls[fc];
                const uint8_t ispn = punct[fc];
                int64_t ulen = 1;
                if (group[fc]) {
                    while (ulen < MAX_UNK_LEN && p + ulen < n) {
                        const int32_t c2 = U[p + ulen];
                        if (cls[c2] == cid && punct[c2] == ispn)
                            ulen++;
                        else break;
                    }
                }
                cnt[p + ulen] += unk_off[cid + 1] - unk_off[cid];
            }
        }
        int64_t *off = (int64_t *)malloc((size_t)(n + 2)
                                         * sizeof(int64_t));
        if (!off) { free(cnt); return -1; }
        off[0] = 0;
        for (int64_t p = 0; p <= n; p++) off[p + 1] = off[p] + cnt[p];
        const int64_t na = off[n + 1];
        free(cnt);

        /* ---- arena + scratch ---- */
        int64_t *a_cost = (int64_t *)malloc((size_t)na
                                            * sizeof(int64_t));
        int32_t *a_right = (int32_t *)malloc((size_t)na
                                             * sizeof(int32_t));
        int32_t *a_bpos = (int32_t *)malloc((size_t)na
                                            * sizeof(int32_t));
        int32_t *a_bidx = (int32_t *)malloc((size_t)na
                                            * sizeof(int32_t));
        int32_t *a_id = (int32_t *)malloc((size_t)na
                                          * sizeof(int32_t));
        int8_t *a_ty = (int8_t *)malloc((size_t)na);
        int32_t *acnt = (int32_t *)calloc((size_t)(n + 2),
                                          sizeof(int32_t));
        int32_t *tb_pos = (int32_t *)malloc((size_t)(n + 1)
                                            * sizeof(int32_t));
        int32_t *tb_len = (int32_t *)malloc((size_t)(n + 1)
                                            * sizeof(int32_t));
        int32_t *tb_id = (int32_t *)malloc((size_t)(n + 1)
                                           * sizeof(int32_t));
        int8_t *tb_ty = (int8_t *)malloc((size_t)(n + 1));
        if (!a_cost || !a_right || !a_bpos || !a_bidx || !a_id
            || !a_ty || !acnt || !tb_pos || !tb_len || !tb_id
            || !tb_ty) {
            free(off); free(a_cost); free(a_right); free(a_bpos);
            free(a_bidx); free(a_id); free(a_ty); free(acnt);
            free(tb_pos); free(tb_len); free(tb_id); free(tb_ty);
            return -1;
        }

        Lat L;
        L.U = U; L.punct = punct;
        L.a_cost = a_cost; L.a_right = a_right; L.a_bpos = a_bpos;
        L.a_bidx = a_bidx; L.a_id = a_id; L.a_ty = a_ty;
        L.off = off; L.acnt = acnt;
        L.tb_pos = tb_pos; L.tb_len = tb_len; L.tb_id = tb_id;
        L.tb_ty = tb_ty;
        L.next_pos = 1;
        L.last_bt = 0;

        /* seed arc at position 0 (cost 0, rightID 0) */
        a_cost[off[0]] = 0; a_right[off[0]] = 0;
        a_bpos[off[0]] = -1; a_bidx[off[0]] = -1;
        a_id[off[0]] = -1; a_ty[off[0]] = 0;
        acnt[0] = 1;

        const int64_t mdoc0 = m;
        int fb = 0;
        for (int64_t p = 0; p < n; p++) {
            if (p + 1 > L.next_pos) L.next_pos = p + 1;
            const int is_frontier = (L.next_pos == p + 1);
            if (acnt[p] == 0) continue;
            if (p > L.last_bt && acnt[p] == 1 && is_frontier) {
                lat_backtrace(&L, p, 0, start, &m, out_pos, out_len,
                              out_id, out_ty);
                a_cost[off[p]] = 0;
            }
            if (p - L.last_bt >= MAX_GAP) { fb = 1; break; }

            /* matching + add() */
            int32_t node = 0, any = 0;
            int64_t lim = max_word_len;
            if (n - p < lim) lim = n - p;
            const int64_t base = off[p];
            const int32_t fcnt = acnt[p];
            for (int64_t ln = 1; ln <= lim; ln++) {
                const int32_t u = U[p + ln - 1];
                int32_t lo = t_eoff[node], hi = t_eoff[node + 1];
                int32_t child = -1;
                while (lo < hi) {
                    int32_t mid = (lo + hi) >> 1;
                    if (t_eunit[mid] < u) lo = mid + 1;
                    else if (t_eunit[mid] > u) hi = mid;
                    else { child = t_echild[mid]; break; }
                }
                if (child < 0) break;
                node = child;
                const int32_t w0 = t_woff[node];
                const int32_t w1 = t_woff[node + 1];
                if (w1 > w0) any = 1;
                for (int32_t w = w0; w < w1; w++) {
                    const int32_t wid = t_wid[w];
                    const int32_t left = e_left[wid];
                    int64_t least = INT64_MAX;
                    int32_t li = -1;
                    for (int32_t k = 0; k < fcnt; k++) {
                        const int64_t c = a_cost[base + k]
                            + M[(int64_t)a_right[base + k] * mcols
                                + left];
                        if (c < least) { least = c; li = k; }
                    }
                    least += e_cost[wid];
                    /* search-mode penalty over [p, p+ln) */
                    if (ln > KANJI_PEN_LEN) {
                        int allk = 1;
                        for (int64_t q = p; q < p + ln; q++)
                            if (!kanji[U[q]]) { allk = 0; break; }
                        if (allk)
                            least += (ln - KANJI_PEN_LEN) * KANJI_PEN;
                        else if (ln > OTHER_PEN_LEN)
                            least += (ln - OTHER_PEN_LEN) * OTHER_PEN;
                    }
                    const int64_t w2 = off[p + ln] + acnt[p + ln];
                    acnt[p + ln]++;
                    a_cost[w2] = least; a_right[w2] = left;
                    a_bpos[w2] = (int32_t)p; a_bidx[w2] = li;
                    a_id[w2] = wid; a_ty[w2] = 0;
                    if (p + ln + 1 > L.next_pos)
                        L.next_pos = p + ln + 1;
                }
            }
            const int32_t fc = U[p];
            if (!any || invoke[fc]) {
                const int32_t cid = cls[fc];
                const uint8_t ispn = punct[fc];
                int64_t ulen = 1;
                if (group[fc]) {
                    while (ulen < MAX_UNK_LEN && p + ulen < n) {
                        const int32_t c2 = U[p + ulen];
                        if (cls[c2] == cid && punct[c2] == ispn)
                            ulen++;
                        else break;
                    }
                }
                for (int32_t w = unk_off[cid]; w < unk_off[cid + 1];
                     w++) {
                    const int32_t uid = unk_uid[w];
                    const int32_t left = u_left[uid];
                    int64_t least = INT64_MAX;
                    int32_t li = -1;
                    for (int32_t k = 0; k < fcnt; k++) {
                        const int64_t c = a_cost[base + k]
                            + M[(int64_t)a_right[base + k] * mcols
                                + left];
                        if (c < least) { least = c; li = k; }
                    }
                    least += u_cost[uid];
                    if (ulen > KANJI_PEN_LEN) {
                        int allk = 1;
                        for (int64_t q = p; q < p + ulen; q++)
                            if (!kanji[U[q]]) { allk = 0; break; }
                        if (allk)
                            least += (ulen - KANJI_PEN_LEN)
                                * KANJI_PEN;
                        else if (ulen > OTHER_PEN_LEN)
                            least += (ulen - OTHER_PEN_LEN)
                                * OTHER_PEN;
                    }
                    const int64_t w2 = off[p + ulen] + acnt[p + ulen];
                    acnt[p + ulen]++;
                    a_cost[w2] = least; a_right[w2] = left;
                    a_bpos[w2] = (int32_t)p; a_bidx[w2] = li;
                    a_id[w2] = uid; a_ty[w2] = 1;
                    if (p + ulen + 1 > L.next_pos)
                        L.next_pos = p + ulen + 1;
                }
            }
        }

        if (fb) {
            fallback[dd] = 1;
            m = mdoc0;
        } else if (acnt[n]) {
            /* end-of-text: min over final arcs + exit cost to BOS 0 */
            const int64_t base = off[n];
            int64_t least = INT64_MAX;
            int32_t li = -1;
            for (int32_t k = 0; k < acnt[n]; k++) {
                const int64_t c = a_cost[base + k]
                    + M[(int64_t)a_right[base + k] * mcols + 0];
                if (c < least) { least = c; li = k; }
            }
            lat_backtrace(&L, n, li, start, &m, out_pos, out_len,
                          out_id, out_ty);
        }
        out_ndoc[dd] = m - mdoc0;

        free(off); free(a_cost); free(a_right); free(a_bpos);
        free(a_bidx); free(a_id); free(a_ty); free(acnt);
        free(tb_pos); free(tb_len); free(tb_id); free(tb_ty);
    }
    return m;
}
"""

_clib = None
_clib_tried = False


def _compile_kernel() -> Optional[ctypes.CDLL]:
    """Compile (once per host and user, see analysis/native.py) and
    dlopen the lattice kernel; None if no working C compiler or no safe
    cache directory."""
    lib = native.load_kernel("ja_kernel", _C_SRC)
    if lib is None:
        return None
    lib.ja_lattice.restype = ctypes.c_int64
    lib.ja_lattice.argtypes = (
        [ctypes.c_void_p] * 3 + [ctypes.c_int64]
        + [ctypes.c_void_p] * 5 + [ctypes.c_int32]
        + [ctypes.c_void_p] * 11
        + [ctypes.c_void_p, ctypes.c_int32]
        + [ctypes.c_void_p] * 6)
    return lib


def _kernel() -> Optional[ctypes.CDLL]:
    global _clib, _clib_tried
    if not _clib_tried:
        _clib_tried = True
        _clib = _compile_kernel()
    return _clib


def _lattice_raw(texts: List[str], lib: ctypes.CDLL):
    """Run the C lattice over the batch; returns (joined, unit_strs,
    pos/len/id/ty token lists, per-doc counts, fallback mask) or None
    on kernel allocation failure."""
    B = len(texts)
    t = _tab()
    unit_strs = [_ja._units(t_ or "") for t_ in texts]
    joined = "".join(unit_strs)
    flat = np.frombuffer(
        joined.encode("utf-16-le", "surrogatepass"),
        dtype="<u2").astype(np.int32)
    flat = np.ascontiguousarray(flat)
    lens = np.array([len(x) for x in unit_strs], dtype=np.int64)
    off = np.zeros(B + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    total = int(off[-1])
    out_pos = np.empty(total + 1, dtype=np.int64)
    out_len = np.empty(total + 1, dtype=np.int32)
    out_id = np.empty(total + 1, dtype=np.int32)
    out_ty = np.empty(total + 1, dtype=np.int8)
    out_ndoc = np.zeros(B, dtype=np.int64)
    fb = np.zeros(B, dtype=np.uint8)
    doc_start = np.ascontiguousarray(off[:B])
    doc_lim = np.ascontiguousarray(off[1:])
    m = lib.ja_lattice(
        flat.ctypes.data, doc_start.ctypes.data, doc_lim.ctypes.data,
        B,
        t.t_eoff.ctypes.data, t.t_eunit.ctypes.data,
        t.t_echild.ctypes.data, t.t_woff.ctypes.data,
        t.t_wid.ctypes.data, t.max_word_len,
        t.e_left.ctypes.data, t.e_cost.ctypes.data,
        t.cls.ctypes.data, t.invoke.ctypes.data, t.group.ctypes.data,
        t.kanji.ctypes.data, t.punct.ctypes.data,
        t.unk_off.ctypes.data, t.unk_uid.ctypes.data,
        t.u_left.ctypes.data, t.u_cost.ctypes.data,
        t.M.ctypes.data, t.mcols,
        out_pos.ctypes.data, out_len.ctypes.data, out_id.ctypes.data,
        out_ty.ctypes.data, out_ndoc.ctypes.data, fb.ctypes.data)
    if m < 0:  # allocation failure
        return None
    return (joined, unit_strs, out_pos[:m].tolist(),
            out_len[:m].tolist(), out_id[:m].tolist(),
            out_ty[:m].tolist(), out_ndoc, fb)


def ja_tokenize_batch(texts: List[str]
                      ) -> List[List[Tuple[str, str, Optional[str]]]]:
    """ja.ja_tokenize for every string — C lattice kernel when a
    compiler is available, scalar python otherwise; docs that hit the
    MAX_BACKTRACE_GAP prune are re-run through the scalar path
    (identical semantics by construction)."""
    B = len(texts)
    if B == 0:
        return []
    lib = _kernel()
    raw = _lattice_raw(texts, lib) if lib is not None else None
    if raw is None:
        return [_ja.ja_tokenize(t_ or "") for t_ in texts]
    joined, unit_strs, pos_l, len_l, id_l, ty_l, out_ndoc, fb = raw
    d = _ja._load()
    e_pos, e_base, u_pos = d.e_pos, d.e_base, d.u_pos
    out: List[List[Tuple[str, str, Optional[str]]]] = []
    k = 0
    for i in range(B):
        if fb[i]:
            out.append(_ja.ja_tokenize(texts[i] or ""))
            continue
        nd = int(out_ndoc[i])
        # surfaces are plain slices unless the doc had astral chars
        # (unit conversion changed it) — then surrogate pairs must be
        # re-joined by a UTF-16 roundtrip, exactly like the scalar path
        plain = unit_strs[i] is texts[i] or unit_strs[i] == texts[i]
        toks = []
        for j in range(k, k + nd):
            a = pos_l[j]
            surface = joined[a:a + len_l[j]]
            if not plain:
                surface = surface.encode(
                    "utf-16-le", "surrogatepass").decode(
                    "utf-16-le", "surrogatepass")
            wid = id_l[j]
            if ty_l[j]:
                toks.append((surface, u_pos[wid], None))
            else:
                base = e_base[wid]
                toks.append((surface, e_pos[wid],
                             None if base == surface else base))
        k += nd
        out.append(toks)
    return out


# ------------------------------------------- precomputed filter chain

_chain_tabs = None


def _chain_tables():
    """Per-word-id precomputation of the JapaneseAnalyzer chain: for
    KNOWN entries the final term depends only on the word id (surface
    and base form are dictionary constants), so the whole chain
    (stoptag -> CJKWidth -> Stop -> KatakanaStem -> LowerCase,
    ja.term_final) collapses to one table lookup; for UNKNOWN tokens
    the stoptag decision is per unknown-entry id and the term tail is
    memoized per distinct surface (Zipf: few distinct surfaces)."""
    global _chain_tabs
    if _chain_tabs is None:
        d = _ja._load()
        wid_surface: dict = {}
        for surface, wids in d.by_surface.items():
            for w in wids:
                wid_surface[w] = surface
        known_final: List[Optional[str]] = []
        for wid in range(len(d.e_left)):
            if d.e_pos[wid] in d.stoptags:
                known_final.append(None)
                continue
            base = d.e_base[wid]
            term = base if base is not None else wid_surface[wid]
            known_final.append(_ja.term_final(d, term))
        unk_stop = [p in d.stoptags for p in d.u_pos]
        _chain_tabs = (known_final, unk_stop, {})
    return _chain_tabs


def ja_analyze_batch(texts: List[str]) -> List[Tuple[List[str],
                                                     List[int]]]:
    """ja.ja_analyze for every string: C lattice + precomputed chain
    tables; scalar fallback without a compiler / for gap-pruned docs.
    Differentially identical to the scalar path by construction
    (known terms precomputed THROUGH ja.term_final; unknown terms
    memoized through it)."""
    B = len(texts)
    if B == 0:
        return []
    lib = _kernel()
    raw = _lattice_raw(texts, lib) if lib is not None else None
    if raw is None:
        return [_ja.ja_analyze(t_ or "") for t_ in texts]
    joined, unit_strs, pos_l, len_l, id_l, ty_l, out_ndoc, fb = raw
    d = _ja._load()
    known_final, unk_stop, unk_memo = _chain_tables()
    term_final = _ja.term_final
    out: List[Tuple[List[str], List[int]]] = []
    k = 0
    for i in range(B):
        if fb[i]:
            out.append(_ja.ja_analyze(texts[i] or ""))
            continue
        nd = int(out_ndoc[i])
        plain = unit_strs[i] is texts[i] or unit_strs[i] == texts[i]
        terms: List[str] = []
        positions: List[int] = []
        pos = -1
        for j in range(k, k + nd):
            pos += 1
            wid = id_l[j]
            if ty_l[j]:
                if unk_stop[wid]:
                    continue
                a = pos_l[j]
                surface = joined[a:a + len_l[j]]
                if not plain:
                    surface = surface.encode(
                        "utf-16-le", "surrogatepass").decode(
                        "utf-16-le", "surrogatepass")
                f = unk_memo.get(surface, False)
                if f is False:
                    f = unk_memo[surface] = term_final(d, surface)
            else:
                f = known_final[wid]
            if f is None:
                continue
            terms.append(f)
            positions.append(pos)
        k += nd
        out.append((terms, positions))
    return out
