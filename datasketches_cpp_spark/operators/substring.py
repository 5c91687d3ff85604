"""S3: exact-substring caption dedup lane.

Finds pairs (A, B) where A's caption is an exact substring of B's caption —
the case MinHash misses (a short caption inside a long one has low Jaccard).

Two phases, both linear in corpus size:

1. **Candidate blocking — min-shingle inverted index.** If A ⊆ B then every
   token w-gram of A occurs in B; in particular A's *minimum* shingle hash
   is one of B's shingles. So: post every doc's full shingle set into an
   inverted index (shingle_hash → host ids; one explode, linear rows), and
   probe it with each doc's single min shingle. Posting lists for common
   shingles are capped (deterministically, smallest host ids kept) — the
   same bounded-skew discipline as the LSH lane.

2. **Verification — suffix-array search.** Within each candidate pair the
   host caption's token suffix array is built (prefix-doubling rank sort,
   O(n log² n) per host, shared across that host's candidates) and the
   needle is located by binary search over suffixes — exact containment,
   O(m log n) per probe. This is the reference-exactness tier: like theta
   below k (theta_sketch_impl.hpp:53), the answer is exact, not estimated.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame

from ..hashing import DEFAULT_SEED
from .sigkernel import SigConfig, token_shingle_hashes


def suffix_array(tokens: list[str]) -> np.ndarray:
    """Suffix array over a token sequence by prefix doubling on ranks."""
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    _, rank = np.unique(np.asarray(tokens, dtype=object), return_inverse=True)
    rank = rank.astype(np.int64)
    k = 1
    while True:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        order = np.lexsort((key2, rank))
        new_rank = np.zeros(n, dtype=np.int64)
        prev = order[0]
        r = 0
        for i in order[1:]:
            if rank[i] != rank[prev] or key2[i] != key2[prev]:
                r += 1
            new_rank[i] = r
            prev = i
        rank = new_rank
        if r == n - 1:
            break
        k *= 2
        if k >= n:
            # all ranks distinct not reached only for identical suffixes —
            # impossible with distinct positions; guard anyway
            break
    return np.argsort(rank, kind="stable")


def _contains(host_tokens: list[str], sa: np.ndarray, needle: list[str]) -> bool:
    """Binary search the suffix array for ``needle`` as a contiguous run."""
    n, m = len(host_tokens), len(needle)
    if m == 0 or m > n:
        return False
    lo, hi = 0, n
    # lower bound of suffixes >= needle
    while lo < hi:
        mid = (lo + hi) // 2
        suf = host_tokens[sa[mid] : sa[mid] + m]
        if suf < needle:
            lo = mid + 1
        else:
            hi = mid
    return lo < n and host_tokens[sa[lo] : sa[lo] + m] == needle


def substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: SigConfig | None = None,
    max_posting_list: int = 64,
    min_tokens: int = 3,
    broadcast_max_probes: int = 1_000_000,
) -> DataFrame:
    """→ (a, b) pairs where one caption is an exact token-level substring of
    the other (a < b by id); see ``substring_pairs_with_release``. The
    small-corpus bitmap index broadcast stays live for the session: a
    caller that materializes the pairs should use that function and
    release it."""
    return substring_pairs_with_release(
        df, id_col, text_col, cfg, max_posting_list, min_tokens, broadcast_max_probes
    )[0]


def substring_pairs_with_release(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cfg: SigConfig | None = None,
    max_posting_list: int = 64,
    min_tokens: int = 3,
    broadcast_max_probes: int = 1_000_000,
) -> tuple[DataFrame, Callable[[], None] | None]:
    """→ ((a, b) pairs where one caption is an exact token-level substring
    of the other (a < b by id), release). Equal captions are excluded here
    (the MinHash lane owns exact equality at J=1). ``release()`` destroys
    the broadcasts the pairs are computed from; call it once they are
    materialized. It is None when there are none.

    ``min_tokens`` is clamped to ``cfg.shingle_w``: a needle shorter than
    the shingle window gets only a zero-padded shingle no host contains,
    so its pairs would silently never surface — below-window needles are
    excluded symmetrically instead (the MinHash lane still covers
    them)."""
    cfg = cfg or SigConfig()
    seed = cfg.seed
    w = cfg.shingle_w
    min_tokens = max(min_tokens, w)
    id_type = dict(df.dtypes)[id_col]

    shingle_schema = (
        f"id {id_type}, shingle long, is_min boolean, n_tokens int, "
        "sb1 long, sb2 long"
    )

    def post(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = pdf[text_col].fillna("").tolist()
            sh, off = token_shingle_hashes(texts, w, seed)
            n_tok = [len(t.split()) for t in texts]
            ids_out, sh_out, ismin, ntok_out = [], [], [], []
            b1_out, b2_out = [], []
            for i, rid in enumerate(pdf[id_col]):
                seg = np.unique(sh[off[i] : off[i + 1]])
                if len(seg) == 0 or n_tok[i] < min_tokens:
                    continue
                ids_out.extend([rid] * len(seg))
                sh_out.append(seg.astype(np.int64))
                flags = np.zeros(len(seg), dtype=bool)
                flags[0] = True  # seg is sorted → index 0 is the min shingle
                ismin.append(flags)
                ntok_out.extend([n_tok[i]] * len(seg))
                # 128-bit bloom over the doc's WHOLE shingle set (bit =
                # low 7 hash bits): containment A ⊆ B implies every bit of
                # A's bloom is set in B's — a no-false-negative candidate
                # screen evaluated with two 64-bit ANDs in codegen.
                idx = seg & np.uint64(127)
                lo = idx[idx < 64]
                hi = idx[idx >= 64] - np.uint64(64)
                b1 = np.bitwise_or.reduce(np.left_shift(np.uint64(1), lo)) if len(lo) else 0
                b2 = np.bitwise_or.reduce(np.left_shift(np.uint64(1), hi)) if len(hi) else 0
                b1_out.extend([np.uint64(b1).astype(np.int64)] * len(seg))
                b2_out.extend([np.uint64(b2).astype(np.int64)] * len(seg))
            if not ids_out:
                continue
            yield pd.DataFrame(
                {
                    "id": ids_out,
                    "shingle": np.concatenate(sh_out),
                    "is_min": np.concatenate(ismin),
                    "n_tokens": np.array(ntok_out, dtype=np.int32),
                    "sb1": np.array(b1_out, dtype=np.int64),
                    "sb2": np.array(b2_out, dtype=np.int64),
                }
            )

    # CPU-heavy narrow stage over a possibly-unsplittable input (one fat
    # parquet file scans as 1-2 partitions): rebalance so the tokenize+
    # hash work uses the whole cluster (guide §2.5 input-skew remedy). At
    # real scale the scan has >> cores splits and this is a no-op.
    src = df.select(id_col, text_col)
    sc = df.sparkSession.sparkContext
    if src.rdd.getNumPartitions() < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism * 2)
    postings = src.mapInPandas(post, shingle_schema)
    postings = postings.localCheckpoint(eager=False)

    # the corpus-size gate and the posting-table materialization are
    # disjoint subtrees — overlap the two driver actions (guide §2.6;
    # each is a serial round trip that otherwise adds to every call)
    from ..session import run_driver_actions

    n_docs, n_postings = run_driver_actions(df.sparkSession, df.count, postings.count)
    small_corpus = n_docs <= broadcast_max_probes
    if small_corpus:
        dense = _dense_domain_candidates(postings, id_type, n_postings)
        if dense is not None:
            cand, bc = dense
            pairs = _verify_candidates(
                cand, df, id_col, text_col, id_type, small_corpus=True
            )
            return pairs, lambda: bc.destroy(blocking=False)

    probes_min = postings.where("is_min")

    # only shingles that are some doc's MIN shingle can ever be probed —
    # semi-joining the (broadcastable) distinct min-shingle set prunes the
    # posting table ~|shingles per doc|-fold BEFORE the expensive windowed
    # sort. At corpus sizes where the min-shingle set outgrows broadcast,
    # drop the hint and Catalyst falls back to a shuffled semi-join.
    min_shingles = probes_min.select("shingle").distinct()
    pruned_postings = postings.join(
        F.broadcast(min_shingles), "shingle", "left_semi"
    )

    # cap hot posting lists deterministically (keep smallest host ids) via a
    # windowed rank — unlike collect_list this spills instead of
    # materializing a degenerate shingle's full posting list in memory
    from pyspark.sql import Window

    wnd = Window.partitionBy("shingle").orderBy("id")
    hosts = (
        pruned_postings.withColumn("rn", F.row_number().over(wnd))
        .where(F.col("rn") <= max_posting_list)
        .select(
            "shingle",
            F.col("id").alias("host_id"),
            F.col("n_tokens").alias("host_tokens"),
            F.col("sb1").alias("hb1"),
            F.col("sb2").alias("hb2"),
        )
    )
    probes = probes_min.select(
        F.col("id").alias("needle_id"),
        F.col("n_tokens").alias("needle_tokens"),
        "shingle",
        F.col("sb1").alias("nb1"),
        F.col("sb2").alias("nb2"),
    )
    # Join strategy (guide §3.1): one probe row per doc, so up to
    # ``broadcast_max_probes`` docs the probe side is hint-broadcast — the
    # host side streams map-side with ZERO exchange for the candidate
    # explosion (min-shingle keys are few and hot, so a shuffled join
    # would also be key-skewed). Past the threshold the hint is dropped
    # and Catalyst plans the shuffled join exactly as before.
    if small_corpus:
        joined = hosts.join(F.broadcast(probes), "shingle")
    else:
        joined = probes.join(hosts, "shingle")
    # Bloom containment screen (no false negatives): if needle ⊆ host then
    # every one of the needle's shingle-bloom bits is set in the host's —
    # (nb & ~hb) == 0 on both words. Evaluated inline in the join stage,
    # it removes the quadratic false-candidate mass of hot min-shingles
    # BEFORE anything is shuffled (guide §2.3/§8: decide with small rows).
    # True containment pairs always survive, so the verified output is
    # byte-identical to the unscreened plan.
    bloom_ok = (
        F.col("nb1").bitwiseAND(F.bitwise_not(F.col("hb1"))) == 0
    ) & (F.col("nb2").bitwiseAND(F.bitwise_not(F.col("hb2"))) == 0)
    cand = (
        joined
        # a strict substring is strictly shorter; equality excluded
        .where(
            (F.col("needle_id") != F.col("host_id"))
            & (F.col("needle_tokens") < F.col("host_tokens"))
            & bloom_ok
        )
        .dropDuplicates(["needle_id", "host_id"])
        .select("needle_id", "host_id")
    )

    return _verify_candidates(cand, df, id_col, text_col, id_type, small_corpus), None


#: dense-domain gate: the bitmap index costs distinct_shingles × n_docs/8
#: bytes; build+broadcast it only under this budget (and only when the doc
#: set is small enough for a driver-side dense id index).
_BITMAP_BUDGET_BYTES = 128 * 1024 * 1024
_BITMAP_MAX_DOCS = 2_000_000
_BITMAP_MAX_POSTINGS = 30_000_000


def _dense_domain_candidates(
    postings: DataFrame, id_type: str, n_postings: int
) -> tuple[DataFrame, Broadcast] | None:
    """Exact containment-candidate generation for SMALL SHINGLE DOMAINS.

    When the corpus' distinct-shingle count is tiny relative to the corpus
    (short token vocabulary — caption corpora), single-shingle blocking
    explodes: every posting list holds ~n_docs/|domain| hosts, so the
    probe join streams ~n_docs²/|domain| pairs (measured 90.6M at sf1.0)
    only for the bloom screen to discard nearly all of them. Here the
    inverted index is materialized as DENSE BITSETS instead — one
    n_docs-bit bitmap per distinct shingle, Σ = |domain| × n_docs/8 bytes
    (6 MB at sf1.0) — and the candidate set is computed EXACTLY as the
    bitwise AND over each needle's full shingle set: host ⊇ needle's
    shingles, a strict superset of true containment and a subset of every
    single-shingle block. No pair ever materializes that doesn't already
    pass the old path's bloom screen, and no true pair can be missed
    (A ⊆ B ⇒ every shingle of A is in B). Returns None when the domain or
    corpus outgrows the budget — callers fall back to the general
    min-shingle/posting-list plan, which scales to arbitrary domains.
    Otherwise returns the candidates with the index broadcast they read.
    """
    import pandas as pd

    spark = postings.sparkSession
    # ONE collect builds the whole index: the posting table projected to
    # (id, shingle, n_tokens) comes back via Arrow toPandas (the caller
    # supplies the row count from its overlapped gate action).
    # ~16 B/row → ≤ ~500 MB at the cap.
    if n_postings > _BITMAP_MAX_POSTINGS:
        return None
    pdf = postings.select("id", "shingle", "n_tokens").toPandas()
    if len(pdf) == 0:
        return None
    ids_arr, doc_inv = np.unique(pdf["id"].to_numpy(), return_inverse=True)
    n_docs = len(ids_arr)
    if n_docs > _BITMAP_MAX_DOCS:
        return None
    words = (n_docs + 63) // 64
    sh_arr, sh_inv = np.unique(pdf["shingle"].to_numpy(), return_inverse=True)
    if len(sh_arr) * words * 8 > _BITMAP_BUDGET_BYTES:
        return None
    ntok_arr = np.zeros(n_docs, dtype=np.int32)
    ntok_arr[doc_inv] = pdf["n_tokens"].to_numpy(dtype=np.int32)

    # bitmaps via sort + segmented OR (ufunc.at is ~1 µs/row — too slow):
    # flat word address per posting row, grouped by address, bits OR-ed
    # per group with reduceat
    flat = sh_inv.astype(np.int64) * words + doc_inv // 64
    bit = np.uint64(1) << np.uint64(doc_inv % 64)
    order = np.argsort(flat, kind="stable")
    flat_s, bit_s = flat[order], bit[order]
    starts = np.flatnonzero(np.r_[True, flat_s[1:] != flat_s[:-1]])
    bitmaps = np.zeros(len(sh_arr) * words, dtype=np.uint64)
    bitmaps[flat_s[starts]] = np.bitwise_or.reduceat(bit_s, starts)
    bitmaps = bitmaps.reshape(len(sh_arr), words)

    sh_index = pd.Index(sh_arr)
    bc = spark.sparkContext.broadcast((sh_index, bitmaps, ids_arr, ntok_arr))

    # per-needle work: AND a handful of full-width bitmaps, sparsify to
    # the (tiny) surviving host set, then probe the remaining shingles'
    # bitmaps only at those hosts — ~25 KB of memory traffic per needle
    # vs ~360 KB + an n_docs-bit unpack for the dense fold (the dense
    # version measured 30 s single-threaded at sf1.0; this one ~2 s)
    _DENSE_ANDS = 4

    def cands(batches):
        shi, bms, ids_a, ntok_a = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # a doc's postings are emitted contiguously by the builder, so
            # within a batch the stable argsort keeps them grouped; a doc
            # split across batch boundaries just gets two partial-AND
            # candidate sets — both supersets of its true candidates, both
            # verified exactly downstream, duplicates dropped at the end
            order = np.argsort(pdf["id"].to_numpy(), kind="stable")
            pid = pdf["id"].to_numpy()[order]
            psh = pdf["shingle"].to_numpy()[order]
            pnt = pdf["n_tokens"].to_numpy()[order]
            starts = np.flatnonzero(np.r_[True, pid[1:] != pid[:-1]])
            ends = np.r_[starts[1:], len(pid)]
            rows = shi.get_indexer(psh)
            n_out_a, n_out_b = [], []
            for s, e in zip(starts, ends):
                rws = rows[s:e]
                acc = np.bitwise_and.reduce(bms[rws[: _DENSE_ANDS]], axis=0)
                nzw = np.flatnonzero(acc)
                if len(nzw) == 0:
                    continue
                sub = np.unpackbits(
                    acc[nzw].reshape(-1, 1).view(np.uint8),
                    axis=1,
                    bitorder="little",
                )
                wi, bi = np.nonzero(sub)
                hosts = nzw[wi] * 64 + bi
                hosts = hosts[hosts < len(ids_a)]
                rem = rws[_DENSE_ANDS:]
                if len(rem) and len(hosts):
                    probe = (
                        bms[np.ix_(rem, hosts // 64)]
                        >> (hosts % 64).astype(np.uint64)
                    ) & np.uint64(1)
                    hosts = hosts[probe.all(axis=0)]
                if len(hosts) == 0:
                    continue
                nid = pid[s]
                ntk = pnt[s]
                h_ids = ids_a[hosts]
                keep = (ntk < ntok_a[hosts]) & (h_ids != nid)
                if keep.any():
                    h = h_ids[keep]
                    n_out_a.append(np.full(len(h), nid, dtype=h_ids.dtype))
                    n_out_b.append(h)
            if n_out_a:
                yield pd.DataFrame(
                    {
                        "needle_id": np.concatenate(n_out_a),
                        "host_id": np.concatenate(n_out_b),
                    }
                )

    # no shuffle: the checkpointed postings stream straight into the
    # candidate kernel (per-doc contiguity is preserved by the builder)
    return postings.mapInPandas(cands, f"needle_id {id_type}, host_id {id_type}"), bc


def _verify_candidates(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    id_type: str,
    small_corpus: bool,
) -> DataFrame:
    """Shared verification tail: (needle_id, host_id) candidates → exact
    token-substring check against the re-joined texts → (a, b)."""
    texts_df = df.select(F.col(id_col).alias("tid"), F.col(text_col).alias("ttext"))
    needle_texts = texts_df.withColumnRenamed("tid", "needle_id").withColumnRenamed("ttext", "needle_text")
    host_texts = texts_df.withColumnRenamed("tid", "host_id").withColumnRenamed("ttext", "host_text")
    if small_corpus:
        # same size gate as the probe broadcast: skip two shuffles of the
        # (tiny) candidate table against the full text table
        needle_texts = F.broadcast(needle_texts)
        host_texts = F.broadcast(host_texts)
    pairs = cand.join(needle_texts, "needle_id").join(host_texts, "host_id")

    out_schema = f"a {id_type}, b {id_type}"

    # Verification kernel regimes. Token-level containment is equivalent to
    # byte containment of single-space-joined tokens with boundary spaces
    # (" A ").find(" B ") — tokens cannot contain spaces after split() — so
    # the common case (captions: tens of tokens, few candidates per host)
    # runs on the C substring search, O(n+m) per probe with no Python-level
    # inner loop. The suffix array (O(m log n) probes after an O(n log² n)
    # build) only wins when a LONG host is probed MANY times; crossover in
    # this runtime is far past typical captions, so the SA path engages at
    # the thresholds below and otherwise stays the documented long-document
    # API (suffix_array/_contains above, tested independently).
    _SA_MIN_HOST_TOKENS = 4096
    _SA_MIN_PROBES = 8

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_out, b_out = [], []
            needle_ids = pdf["needle_id"].tolist()
            host_ids = pdf["host_id"].tolist()
            needle_texts = pdf["needle_text"].tolist()
            host_texts = pdf["host_text"].tolist()
            # group candidate rows by host: each host is tokenized (and, in
            # the SA regime, suffix-arrayed) ONCE per batch
            by_host: dict = {}
            for i, h in enumerate(host_ids):
                by_host.setdefault(h, []).append(i)
            padded_needles: dict = {}  # needle_id → " tok tok ... "
            for h, idxs in by_host.items():
                htokens = host_texts[idxs[0]].split()
                use_sa = (
                    len(htokens) >= _SA_MIN_HOST_TOKENS
                    and len(idxs) >= _SA_MIN_PROBES
                )
                sa = suffix_array(htokens) if use_sa else None
                hpadded = None if use_sa else " " + " ".join(htokens) + " "
                for i in idxs:
                    nid = needle_ids[i]
                    if use_sa:
                        hit = _contains(htokens, sa, needle_texts[i].split())
                    else:
                        np_ = padded_needles.get(nid)
                        if np_ is None:
                            np_ = " " + " ".join(needle_texts[i].split()) + " "
                            padded_needles[nid] = np_
                        hit = np_ in hpadded
                    if hit:
                        a_out.append(min(nid, h))
                        b_out.append(max(nid, h))
            yield pd.DataFrame({"a": a_out, "b": b_out})

    return pairs.mapInPandas(check, out_schema).dropDuplicates(["a", "b"])
