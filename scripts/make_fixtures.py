#!/usr/bin/env python
"""(Re)generate the committed expected-extraction fixture parquet files.

Run after ANY change to the transcript generator or the kernel chain:

    python scripts/make_fixtures.py

Writes fixtures/expected_turns_c20.parquet + expected_convs_c20.parquet —
the DuckDB oracle inputs for x_extract_turns / x_assemble_conversations
(see rapidocr_spark/sources/fixtures.py for why this is a sound oracle).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, through PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from rapidocr_spark.sources.fixtures import (  # noqa: E402
    CHAR_SCORES_FIXTURE, CONVS_FIXTURE, MOSTANGLE_FIXTURE, MULTILANG_FIXTURE,
    N_FIXTURE_CONVS, N_FIXTURE_MOSTANGLE, TURNS_FIXTURE,
    expected_char_scores_pandas, expected_convs_pandas,
    expected_mostangle_pandas, expected_multilang_pandas,
    expected_turns_pandas,
)


def main() -> None:
    from rapidocr_spark.plans.shell import EXTRACT_CFG

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "fixtures")
    os.makedirs(out_dir, exist_ok=True)

    turns = expected_turns_pandas(N_FIXTURE_CONVS, EXTRACT_CFG)
    convs = expected_convs_pandas(turns)
    turns.to_parquet(os.path.join(out_dir, TURNS_FIXTURE), index=False)
    convs.to_parquet(os.path.join(out_dir, CONVS_FIXTURE), index=False)
    multilang = expected_multilang_pandas(N_FIXTURE_CONVS, EXTRACT_CFG)
    multilang.to_parquet(os.path.join(out_dir, MULTILANG_FIXTURE), index=False)
    char_scores = expected_char_scores_pandas(N_FIXTURE_CONVS, EXTRACT_CFG)
    char_scores.to_parquet(os.path.join(out_dir, CHAR_SCORES_FIXTURE), index=False)
    mostangle = expected_mostangle_pandas(N_FIXTURE_MOSTANGLE, EXTRACT_CFG)
    mostangle.to_parquet(os.path.join(out_dir, MOSTANGLE_FIXTURE), index=False)

    from rapidocr_spark.sources.fixtures import (
        N_FIXTURE_PADDED, PADDED_FIXTURE, expected_padded_pandas,
    )

    padded = expected_padded_pandas(N_FIXTURE_PADDED, EXTRACT_CFG)
    padded.to_parquet(os.path.join(out_dir, PADDED_FIXTURE), index=False)

    from rapidocr_spark.sources.fixtures import VIS_FIXTURE, expected_vis_pandas

    vis = expected_vis_pandas(N_FIXTURE_CONVS, EXTRACT_CFG)
    vis.to_parquet(os.path.join(out_dir, VIS_FIXTURE), index=False)

    from rapidocr_spark.sources.media import (
        FRAMES_FIXTURE, MEDIA_FIXTURE, N_FIXTURE_MEDIA, N_FIXTURE_REAL_MEDIA,
        REAL_MEDIA_FIXTURE, expected_frames_pandas, expected_media_pandas,
        expected_real_media_pandas,
    )

    media = expected_media_pandas(N_FIXTURE_MEDIA)
    frames = expected_frames_pandas(N_FIXTURE_MEDIA)
    real = expected_real_media_pandas(N_FIXTURE_REAL_MEDIA)
    media.to_parquet(os.path.join(out_dir, MEDIA_FIXTURE), index=False)
    frames.to_parquet(os.path.join(out_dir, FRAMES_FIXTURE), index=False)
    real.to_parquet(os.path.join(out_dir, REAL_MEDIA_FIXTURE), index=False)
    print(
        f"wrote {len(turns)} turns / {len(convs)} convs / {len(media)} media / "
        f"{len(frames)} frames / {len(real)} real-media / "
        f"{len(mostangle)} mostangle / {len(padded)} padded-spans / "
        f"{len(vis)} vis to {out_dir} "
        f"(n_convs={N_FIXTURE_CONVS}, n_media={N_FIXTURE_MEDIA}, "
        f"n_real={N_FIXTURE_REAL_MEDIA})"
    )


if __name__ == "__main__":
    main()
