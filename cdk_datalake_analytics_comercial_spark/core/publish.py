"""Build-once publication of content-keyed scratch directories.

Query fixtures (persisted indexes, prebuilt txlog tables) and the serving
layer's symlink manifests are directories whose NAME is a key over their
content: a directory that exists under its final name is complete by
construction, because it only ever appears there by one atomic rename.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable


def publish_once(final: str, build: Callable[[str], object]) -> str:
    """Return ``final``, first building it if it does not exist yet.

    ``build(tmp)`` fills a fresh sibling dir ``{final}.build-<uuid>`` (a
    sibling, so the publishing ``os.rename`` stays on one filesystem and
    is atomic). A build that loses a race to a concurrent one drops its
    own tree and returns the winner's, which holds the same content
    because ``final`` is content-keyed. A raising ``build`` leaves no
    trace: its tmp dir is removed and the error propagates."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.build-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final
