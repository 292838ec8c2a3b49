"""Pipeline configuration.

The "reference config" maps 1:1 onto the signature constants of the
reference implementation (see SURVEY.md §7):

- shingle_width = 16   : RAB_POLYNOMIAL_WIN_SIZE (rabin/rabin_dedup.h:90)
- minhash_k     = 20   : K min-values per segment = 100 / DEFAULT_PCT_INTERVAL(5)
                         (rabin/global/index.c:183-186, rabin_dedup.c:976-994)
- lsh_bands b=20, r=1  : the reference probes each of the K min-values
                         independently against the index (rabin_dedup.c:1026-1036)
- simhash_bits  = 64   : 64-bit similarity keys (rabin/global/index.c:500-505)
- simhash_radius = 3   : hamming ball for "similar" blocks
- tau_extra = 0.4      : DELTA_EXTRA similarity threshold
                         (rabin/rabin_dedup.h:153-159, rabin_dedup.c:97-99)
- substring_min_len = 2048 : 1 << RAB_BLK_MIN_BITS(11) (rabin/rabin_dedup.h:88)
"""

from __future__ import annotations

from dataclasses import dataclass, field

_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_size(value: str | int) -> int:
    """Parse a human-friendly size with optional k/m/g/t suffix, e.g.
    "8k" -> 8192, "2M" -> 2097152 (F13: the analog of the reference's
    `parse_numeric`, /root/reference/utils/utils.c:150-202 — binary
    multipliers, case-insensitive, bare integers pass through)."""
    if isinstance(value, int):
        return value
    s = value.strip().lower()
    if not s:
        raise ValueError("empty size string")
    mult = 1
    if s[-1] in _SUFFIX:
        mult = _SUFFIX[s[-1]]
        s = s[:-1]
    if not s.isdigit():
        raise ValueError(f"invalid size literal: {value!r}")
    return int(s) * mult


@dataclass(frozen=True)
class PipelineConfig:
    # --- signature config (mirrors the reference constants) ---
    shingle_width: int = 16          # characters per shingle
    minhash_k: int = 20              # number of minhash permutations
    lsh_bands: int = 20              # b
    lsh_rows: int = 1                # r (b*r == minhash_k)
    simhash_bits: int = 64
    simhash_radius: int = 3          # max hamming distance
    simhash_blocks: int = 4          # pigeonhole blocks (radius+1)
    tau_extra: float = 0.4           # DELTA_EXTRA verify threshold
    substring_min_len: int = 2048    # min verbatim shared span (chars)
    cjk_shingle_chars: int = 8       # CJK shingle width in CODEPOINTS (P6
                                     # adaptive config): 16 BYTES spans only
                                     # ~5 Han chars in UTF-8, so zh/ja/ko
                                     # shingle in the codepoint domain
                                     # (functions/hashing.py shingles_for;
                                     # analog of adaptive_compress.c:325-430
                                     # per-content algorithm selection)

    # --- scale/skew knobs ---
    max_bucket_docs: int = 64        # cap on docs per bucket, the skew
                                     # bound (fused.bucket_pairs): <= 2016
                                     # pairs per key group; larger buckets
                                     # star-join to their min doc instead
                                     # (measured at 100k docs: cap 512 let
                                     # the band buckets emit 16.7M raw pairs
                                     # of which prefilter + degree cap kept
                                     # 43.6k — a 500 MB shuffle feeding a
                                     # 99.7% discard; star edges are
                                     # exact-verified so cluster connectivity
                                     # is unaffected). Drops are logged,
                                     # never silent (A7 bounded index,
                                     # rabin/global/index.c:539-547 analog)
    verify_degree_cap: int = 64      # max verified candidate neighbors per doc
                                     # (top-D by minhash overlap). A clique of m
                                     # boilerplate docs yields O(m*D) verified
                                     # edges instead of m^2/2 while staying one
                                     # connected cluster; drops are logged.

    # --- hashing seeds (deterministic, fixed) ---
    seed: int = 42
    # multiply-add minhash permutation parameters are derived from seed

    # --- substring fingerprinting (winnowing) ---
    substring_window: int = 64       # rolling-hash window (chars)
    substring_stride: int = 992      # sample stride; window+stride-1 <= min_len/2+...
                                     # guarantee: shared span >= window + stride - 1
                                     # in BOTH docs is caught; 64+992-1=1055 < 2048
                                     # with both-side anchor alignment (see substring.py)

    checkpoint_dir: str = "/tmp/pcompress_spark_ckpt"

    def __post_init__(self) -> None:
        assert self.lsh_bands * self.lsh_rows == self.minhash_k, (
            "b*r must equal minhash K"
        )
        assert self.simhash_blocks >= self.simhash_radius + 1, (
            "pigeonhole needs radius+1 blocks"
        )

    # size-typed fields that accept "8k"/"2M"-style CLI literals
    _SIZE_FIELDS = frozenset(
        ("substring_min_len", "max_bucket_docs")
    )

    @classmethod
    def from_args(cls, **overrides) -> "PipelineConfig":
        """Build a config from CLI-style overrides; size-typed fields take
        k/m/g-suffixed strings (reference `-s`/`-B` flag parsing,
        utils/utils.c:150-202); other fields arriving as strings (e.g.
        from --conf-override FIELD=VALUE) are coerced to the declared
        field type, so `minhash_k=20` on the command line is the int 20,
        not the string "20"."""
        import dataclasses

        types = {f.name: f.type for f in dataclasses.fields(cls)}
        parsed: dict[str, object] = {}
        for k, v in overrides.items():
            if k in cls._SIZE_FIELDS:
                parsed[k] = parse_size(v)
            elif isinstance(v, str) and k in types:
                t = types[k]
                if t in ("int", int):
                    parsed[k] = int(v)
                elif t in ("float", float):
                    parsed[k] = float(v)
                elif t in ("bool", bool):
                    parsed[k] = _parse_bool(k, v)
                else:
                    parsed[k] = v
            else:
                parsed[k] = v
        return cls(**parsed)


def _parse_bool(field: str, v: str) -> bool:
    """Strict bool parsing for CLI overrides — a typo must error, not
    silently become False (parse_size sets the precedent)."""
    low = v.lower()
    if low in ("1", "true", "yes", "on"):
        return True
    if low in ("0", "false", "no", "off"):
        return False
    raise ValueError(f"{field}: expected a boolean literal, got {v!r}")


DEFAULT_CONFIG = PipelineConfig()
