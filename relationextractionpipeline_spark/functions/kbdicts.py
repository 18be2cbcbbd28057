"""The dimension tables as the dicts the extraction kernels read.

One function builds them, whichever way the rows reached the driver (a
Spark collect in ``plans/pipeline.build_broadcasts``, a pyarrow read of the
files in ``plans/manifests.run_checkpointed``), so both paths shape the
same dicts.  It lives in ``functions/`` because every checkpoint's rows
depend on it: ``manifests.code_fingerprint`` hashes this package.
"""

from __future__ import annotations

from typing import Dict, Tuple

import pandas as pd

# the columns build_dicts reads, per dimension table
KB_COLUMNS = ["surface", "url", "prior"]
FIGER_COLUMNS = ["url", "figer_type"]


def build_dicts(
    kb_pdf: pd.DataFrame, figer_pdf: pd.DataFrame
) -> Tuple[Dict[str, Tuple[str, float]], Dict[Tuple[str, ...], str], Dict[str, str]]:
    """(kb, kb_index, figer) from the entity KB and FIGER map rows.

    * ``kb``: surface -> (url, prior) of the winning candidate, ranked by
      prior descending, then url ascending (the shared linker tie
      convention; without the url clause the winner would depend on row
      order);
    * ``kb_index``: token tuple -> surface, the gazetteer;
    * ``figer``: url -> FIGER type.
    """
    kb: Dict[str, Tuple[str, float]] = {}
    for surface, url, prior in kb_pdf[KB_COLUMNS].itertuples(index=False):
        cur = kb.get(surface)
        if cur is None or prior > cur[1] or (prior == cur[1] and url < cur[0]):
            kb[surface] = (url, float(prior))
    kb_index = {tuple(s.split(" ")): s for s in kb_pdf["surface"]}
    figer = dict(zip(figer_pdf["url"], figer_pdf["figer_type"]))
    return kb, kb_index, figer
