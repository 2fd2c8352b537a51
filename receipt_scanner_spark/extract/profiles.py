"""Named preprocessing profiles — the reference's selectable image
preprocessors (I12-I14), re-expressed for the DOM stripper.

The reference ships four preprocessing recipes (graphicsmagick, sharp,
opencv, imagemagick) selectable by name via
``processor.imagePreprocessors`` (default ``[['opencv', ...]]``,
``lib/image_processor.js:7-10``), benchmarks them against goldens with
a ≥0.85 success-rate gate,
and CI-enforces one (``benchmark/image_preprocessors.js:118-153``,
``.travis.yml:22``).  The north-rule analog: the segmentation stage is
shared (the fuzz-pinned tokenizer), and each profile is a different
BLOCK-SELECTION recipe — how aggressively boilerplate evidence
(link density, chrome containers, block length) disqualifies a block:

* ``default`` — the CI-enforced recipe (= the byte-identity contract
  vs the spec stripper): chrome blocks dropped, link density ≤ 1/3,
  any non-empty length.  The ``opencv`` analog.
* ``lenient``  — keeps chrome blocks and tolerates link density ≤ 2/3;
  recovers content from chrome-heavy templates at the cost of noise.
* ``aggressive`` — link density ≤ 1/5 and ≥ 16 chars per block; clean
  article text only, drops short receipt-style lines.
* ``raw`` — no disqualification at all: every non-empty block.  The
  debugging/ceiling recipe (benchmark upper bound on recall).

``benchmark_profiles`` (plans/pipeline.py) scores every profile against
goldens exactly like the reference's preprocessor benchmark, with the
same 0.85 gate and coloring thresholds.
"""

from __future__ import annotations

from dataclasses import dataclass

from .html import MAX_LINK_DENSITY, MIN_BLOCK_CHARS, segment_blocks
from .html_fast import extract_main_text_fast


@dataclass(frozen=True)
class StripperProfile:
    name: str
    min_block_chars: int
    max_link_density: float
    drop_chrome: bool


PROFILES: dict[str, StripperProfile] = {
    "default": StripperProfile(
        "default", MIN_BLOCK_CHARS, MAX_LINK_DENSITY, True
    ),
    "lenient": StripperProfile("lenient", 1, 2.0 / 3.0, False),
    "aggressive": StripperProfile("aggressive", 16, 0.2, True),
    "raw": StripperProfile("raw", 1, 1.0, False),
}


def extract_with_profile(
    html_bytes: bytes | str, profile: str | StripperProfile = "default"
) -> str:
    """The fast tokenizer with the profile's selection thresholds, as in
    functions/udfs.extract_row; ``default`` equals extract_main_text."""
    p = PROFILES[profile] if isinstance(profile, str) else profile
    return extract_main_text_fast(
        html_bytes,
        min_block_chars=p.min_block_chars,
        max_link_density=p.max_link_density,
        drop_chrome=p.drop_chrome,
    )


def extract_with_profile_spec(
    html_bytes: bytes | str, profile: str | StripperProfile = "default"
) -> str:
    """Spec twin: the SAME selection rules over the stdlib-parser block
    segmentation — the parity oracle for every profile, not just the
    default (TestProfileParity)."""
    p = PROFILES[profile] if isinstance(profile, str) else profile
    if isinstance(html_bytes, (bytes, bytearray)):
        html_text = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        html_text = html_bytes
    kept: list[str] = []
    for b in segment_blocks(html_text):
        t = b.text()
        if len(t) < p.min_block_chars:
            continue
        if p.drop_chrome and b.chrome_depth_seen:
            continue
        if b.link_chars / len(t) > p.max_link_density:
            continue
        kept.append(t)
    return "\n".join(kept)
