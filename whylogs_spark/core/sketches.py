"""KLL and frequent-items sketches in Python: decoders of the engine's
sketch bytes, and the reference the tests check Spark's sketches against.

The reference delegates these to the C++ ``whylogs-sketching`` fork of
Apache DataSketches (reference: python/pyproject.toml:15). Every sketch
the library builds or merges is Spark's DataSketches aggregate, run in
the JVM: profiles, merges, the store, streaming windows and
``roc_auc_sketch``. No library path calls ``update_batch``, ``merge`` or
``serialize`` here. What the library uses is ``deserialize``, which
reads DataSketches bytes (and the engine's former ``WSK1``/``WFI1``
format, which older stores hold), and the read-side queries the
driver-side scorers run on a decoded sketch (drift, viz, model_perf):

* ``KllSketch``: the KLL quantile sketch (Karnin, Lang, Liberty 2016,
  "Optimal Quantile Approximation in Streams"), distribution quantiles
  (reference: python/whylogs/core/metrics/metrics.py:217, k=256 per
  python/whylogs/core/configs.py:10-15). Normalized rank error for
  k=256 is ~1.65%.
* ``FrequentStringsSketch``: Misra-Gries / SpaceSaving-style heavy
  hitters (reference frequent-items sketch:
  python/whylogs/core/metrics/metrics.py:444, 128 slots).

The update and merge kernels stay as the reference implementation the
tests compare against, and perfbench's ``sketches.*`` probes time them
(both merges are associative+commutative, which
is what makes profile rows a monoid — reference merge semantics:
python/whylogs/core/metrics/metric_components.py:26).

Determinism: KLL compaction chooses even/odd offsets from a counter-based
xorshift stream seeded by a constant, so the same input in the same order
produces the same sketch; estimates are within rank-error bounds regardless.
"""

from __future__ import annotations

import json
import struct
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

_KLL_MAGIC = b"WSK1"
_MIN_LEVEL_CAP = 8
_CAP_RATIO = 2.0 / 3.0


def _level_capacity(k: int, height: int, level: int) -> int:
    """Capacity of `level` (0 = bottom) in a sketch with `height` levels."""
    depth = height - 1 - level
    cap = int(np.ceil(k * (_CAP_RATIO ** depth)))
    return max(cap, _MIN_LEVEL_CAP)


class _XorShift:
    """Tiny deterministic bit stream for compaction coin flips."""

    __slots__ = ("state",)

    def __init__(self, seed: int = 0x9E3779B97F4A7C15) -> None:
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next_bit(self) -> int:
        x = self.state
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        self.state = x
        return x & 1


class KllSketch:
    """KLL quantile sketch over float64 values."""

    def __init__(self, k: int = 256) -> None:
        self.k = int(k)
        self.n = 0
        self.min_value = np.inf
        self.max_value = -np.inf
        # levels[0] is the unsorted buffer; higher levels are sorted arrays
        # whose items each represent 2**level original values.
        self.levels: List[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self._rng = _XorShift()

    # ---------------------------------------------------------------- update
    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        cap0 = _level_capacity(self.k, len(self.levels), 0)
        if v.size > 4 * cap0:
            # bulk path: build a sketch of the batch with the vectorized
            # cascade (one C-speed axis-sort per level instead of a
            # python loop every ~cap0 items — ~20x faster), then merge.
            tmp = KllSketch(self.k)
            tmp.n = int(v.size)
            tmp.min_value = float(v.min())
            tmp.max_value = float(v.max())
            tmp.levels = self._cascade(v)
            tmp._rng.state = self._rng.state  # keep downstream stream
            self.merge(tmp)
            return
        self.n += int(v.size)
        vmin = float(v.min())
        vmax = float(v.max())
        if vmin < self.min_value:
            self.min_value = vmin
        if vmax > self.max_value:
            self.max_value = vmax
        buf = self.levels[0]
        # Feed in chunks so the bottom buffer never balloons.
        pos = 0
        while pos < v.size:
            room = max(cap0, 64) - buf.size
            take = v[pos : pos + max(room, 64)]
            pos += take.size
            buf = np.concatenate([buf, take])
            self.levels[0] = buf
            if buf.size >= cap0:
                self._compress()
                buf = self.levels[0]
                cap0 = _level_capacity(self.k, len(self.levels), 0)

    def _cascade(self, v: np.ndarray) -> List[np.ndarray]:
        """Vectorized level construction for a large batch.

        Because the whole batch is in memory we can beat the streaming
        compaction schedule: sort ONCE globally, then repeatedly halve the
        sorted array with a per-level random offset (systematic stratified
        sampling). Each halving promotes items one level (doubling their
        weight) and introduces at most one item-weight of rank error, so
        total error is O(n/k) worst-case — typically ~4x below the
        streaming KLL bound — while costing a single C-speed sort.
        Odd leftovers stay at their level so total weight is exactly n,
        keeping the result a valid KLL level structure for `merge`.
        """
        arr = np.sort(v)
        # Coin stream seeded from the batch content (still deterministic
        # for identical input) so the systematic-sampling bias of each
        # partial sketch is independent across executors and cancels on
        # merge instead of adding coherently.
        rng = _XorShift(
            self._rng.state
            ^ ((arr.size * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
            ^ ((np.float64(arr[0]).view(np.uint64).item() << 1)
               & 0xFFFFFFFFFFFFFFFF)
            ^ np.float64(arr[-1]).view(np.uint64).item())
        levels: List[np.ndarray] = []
        while arr.size > self.k:
            if arr.size % 2:
                # keep one element at this level to conserve total weight;
                # take it from a coin-chosen end to stay unbiased
                if rng.next_bit():
                    levels.append(arr[-1:].copy())
                    arr = arr[:-1]
                else:
                    levels.append(arr[:1].copy())
                    arr = arr[1:]
            else:
                levels.append(np.empty(0, dtype=np.float64))
            arr = arr[rng.next_bit()::2]
        levels.append(arr.copy())
        return levels

    def update(self, value: float) -> None:
        self.update_batch(np.array([value], dtype=np.float64))

    # ------------------------------------------------------------ compaction
    def _compress(self) -> None:
        """Compact the lowest level that is over capacity."""
        height = len(self.levels)
        for lvl in range(height):
            cap = _level_capacity(self.k, height, lvl)
            arr = self.levels[lvl]
            if arr.size < cap:
                continue
            arr = np.sort(arr)
            offset = self._rng.next_bit()
            promoted = arr[offset::2]
            self.levels[lvl] = np.empty(0, dtype=np.float64)
            if lvl + 1 == height:
                self.levels.append(promoted)
            else:
                nxt = np.concatenate([self.levels[lvl + 1], promoted])
                self.levels[lvl + 1] = nxt
            return

    # ----------------------------------------------------------------- merge
    def merge(self, other: "KllSketch") -> "KllSketch":
        if other.n == 0:
            return self
        if self.n == 0:
            self.k = min(self.k, other.k)
        self.n += other.n
        self.min_value = min(self.min_value, other.min_value)
        self.max_value = max(self.max_value, other.max_value)
        if other.k < self.k:
            self.k = other.k
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for lvl, arr in enumerate(other.levels):
            if arr.size:
                self.levels[lvl] = np.concatenate([self.levels[lvl], arr])
        # Re-establish capacity invariants.
        guard = 0
        while guard < 256:
            height = len(self.levels)
            over = [
                lvl
                for lvl in range(height)
                if self.levels[lvl].size >= _level_capacity(self.k, height, lvl)
            ]
            if not over:
                break
            self._compress()
            guard += 1
        return self

    # ------------------------------------------------------------- estimates
    def _weighted_items(self) -> Tuple[np.ndarray, np.ndarray]:
        items: List[np.ndarray] = []
        weights: List[np.ndarray] = []
        for lvl, arr in enumerate(self.levels):
            if arr.size:
                items.append(arr)
                weights.append(np.full(arr.size, float(2 ** lvl)))
        if not items:
            return np.empty(0), np.empty(0)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantiles(self, qs: Sequence[float]) -> List[float]:
        if self.n == 0:
            return [float("nan")] * len(qs)
        items, weights = self._weighted_items()
        cum = np.cumsum(weights)
        total = cum[-1]
        out = []
        for q in qs:
            q = min(max(q, 0.0), 1.0)
            if q <= 0.0:
                out.append(float(self.min_value))
                continue
            if q >= 1.0:
                out.append(float(self.max_value))
                continue
            target = q * total
            idx = int(np.searchsorted(cum, target, side="left"))
            idx = min(idx, items.size - 1)
            out.append(float(items[idx]))
        return out

    def quantile(self, q: float) -> float:
        return self.quantiles([q])[0]

    def ranks(self, values: Sequence[float]) -> np.ndarray:
        """Approximate normalized ranks (fraction <= value) of many
        values off ONE sort of the levels: a binary search over the
        cumulative weights per value. Weights are powers of two, so the
        cumulative sums are exact and each rank equals the masked-sum
        form bit for bit."""
        v = np.asarray(values, dtype=np.float64)
        if self.n == 0:
            return np.full(v.shape, np.nan)
        items, weights = self._weighted_items()
        cum = np.concatenate(([0.0], np.cumsum(weights)))
        return cum[np.searchsorted(items, v, side="right")] / cum[-1]

    def rank(self, value: float) -> float:
        """Approximate normalized rank of `value` (fraction <= value)."""
        return float(self.ranks([value])[0])

    def cdf(self, split_points: Sequence[float]) -> List[float]:
        return self.ranks(split_points).tolist() + [1.0]

    def pmf(self, split_points: Sequence[float]) -> List[float]:
        c = np.concatenate(([0.0], self.ranks(split_points), [1.0]))
        return np.maximum(np.diff(c), 0.0).tolist()

    # ------------------------------------------------------------------ serde
    def serialize(self) -> bytes:
        sizes = [arr.size for arr in self.levels]
        header = struct.pack(
            "<4siqddi", _KLL_MAGIC, self.k, self.n, self.min_value,
            self.max_value, len(self.levels),
        )
        body = struct.pack(f"<{len(sizes)}i", *sizes)
        data = np.concatenate(
            [np.sort(a) for a in self.levels] or [np.empty(0)]
        ).astype(np.float64)
        return header + body + data.tobytes()

    @classmethod
    def deserialize(cls, blob: Optional[bytes]) -> "KllSketch":
        """A sketch from this class's ``WSK1`` bytes or from a
        DataSketches KLL doubles sketch (family byte 15 at offset 2),
        the bytes a profile stores."""
        if not blob:
            return cls()
        if blob[:4] != _KLL_MAGIC:
            from ..io.dsketch import kll_from_ds_bytes  # checks the family
            return kll_from_ds_bytes(blob)
        magic, k, n, mn, mx, nlev = struct.unpack_from("<4siqddi", blob, 0)
        off = struct.calcsize("<4siqddi")
        sizes = struct.unpack_from(f"<{nlev}i", blob, off)
        off += 4 * nlev
        sk = cls(k=k)
        sk.n = n
        sk.min_value = mn
        sk.max_value = mx
        levels = []
        for sz in sizes:
            arr = np.frombuffer(blob, dtype=np.float64, count=sz, offset=off)
            off += 8 * sz
            levels.append(arr.copy())
        sk.levels = levels or [np.empty(0)]
        return sk


class FrequentStringsSketch:
    """Misra-Gries heavy-hitters over strings.

    Guarantees: any item with frequency > n/capacity is retained; estimated
    count is within ``error`` of the true count (est <= true <= est + error).
    Merge adds counters then re-prunes — associative within error bounds.
    Strings are truncated to ``max_len`` chars, mirroring the reference
    (python/whylogs/core/metrics/metrics.py:464).
    """

    def __init__(self, capacity: int = 128, max_len: int = 128) -> None:
        self.capacity = int(capacity)
        self.max_len = int(max_len)
        self.counts: Dict[str, int] = {}
        self.error = 0  # max undercount of any retained item
        self.n = 0

    def update_batch(self, values: Iterable[str]) -> None:
        import pandas as pd

        s = values if isinstance(values, pd.Series) else pd.Series(
            list(values), dtype=object)
        s = s.dropna()
        if len(s) == 0:
            return
        s = s.astype(str).str.slice(0, self.max_len)
        vc = s.value_counts()  # C-speed hash count; descending
        self.n += int(vc.sum())
        cap = self.capacity
        # Only the top (2*cap+1) batch items plus already-tracked keys can
        # appear in (or bound) the merged top-cap; anything past that is
        # covered by bumping `error` with the largest dropped count
        # (SpaceSaving-style conservative bound: est <= true <= est+error).
        head = vc.iloc[: 2 * cap + 1]
        if len(vc) > len(head):
            self.error += int(vc.iloc[len(head)])
            tracked = [k for k in self.counts if k not in head.index]
            if tracked:
                extra = vc[vc.index.isin(tracked)]
                for v, c in extra.items():
                    self.counts[v] += int(c)
        for v, c in head.items():
            self.counts[v] = self.counts.get(v, 0) + int(c)
        self._prune()

    def _prune(self) -> None:
        if len(self.counts) <= self.capacity:
            return
        # Remove the (size - capacity) smallest counters; subtract the
        # largest removed count from survivors (Misra-Gries decrement).
        items = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = items[: self.capacity]
        dropped_max = items[self.capacity][1]
        self.error += dropped_max
        self.counts = {
            k: v - dropped_max for k, v in kept if v - dropped_max > 0
        }

    def merge(self, other: "FrequentStringsSketch") -> "FrequentStringsSketch":
        for k, v in other.counts.items():
            self.counts[k] = self.counts.get(k, 0) + v
        self.n += other.n
        self.error += other.error
        self._prune()
        return self

    def top_k(self, k: int = 10) -> List[Tuple[str, int, int, int]]:
        """Returns (value, estimate, lower_bound, upper_bound)."""
        items = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out = []
        for v, c in items[:k]:
            out.append((v, c + self.error, c, c + self.error))
        return out

    def serialize(self) -> bytes:
        payload = {
            "cap": self.capacity,
            "max_len": self.max_len,
            "err": self.error,
            "n": self.n,
            "c": self.counts,
        }
        return b"WFI1" + json.dumps(payload, separators=(",", ":")).encode()

    @classmethod
    def deserialize(cls, blob: Optional[bytes]) -> "FrequentStringsSketch":
        """A sketch from this class's ``WFI1`` bytes or from a
        DataSketches frequent-items sketch of strings (family byte 10 at
        offset 2), the bytes a profile stores."""
        if not blob:
            return cls()
        if blob[:4] != b"WFI1":
            from ..io.dsketch import fi_from_ds_bytes  # checks the family
            return fi_from_ds_bytes(blob)
        payload = json.loads(blob[4:].decode())
        sk = cls(capacity=payload["cap"], max_len=payload["max_len"])
        sk.error = payload["err"]
        sk.n = payload["n"]
        sk.counts = {str(k): int(v) for k, v in payload["c"].items()}
        return sk
