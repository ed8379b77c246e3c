"""The one owner of the frames a conversion persists.

Every persist site of the conversion pipeline calls ``persist``. Inside a
``released()`` block the persisted frames are registered, and the block
unpersists them when it exits, on success or failure. Outside such a block
(``convert_pbf_to_dataframe`` called on its own) the frames stay cached for
the caller's actions, as with any persisted DataFrame.

A frame whose plan was already cached when ``persist`` saw it belongs to
whoever cached it first, so it is not registered and not released.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_held: ContextVar[Optional[list[DataFrame]]] = ContextVar("quackosm_persisted", default=None)


def persist(frame: DataFrame) -> DataFrame:
    """``frame.persist(MEMORY_AND_DISK)``, registered with the enclosing
    ``released()`` block if there is one."""
    owned = frame.storageLevel == StorageLevel.NONE
    frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
    held = _held.get()
    if held is not None and owned:
        held.append(frame)
    return frame


@contextmanager
def released() -> Iterator[None]:
    """Unpersist, on exit, every frame ``persist`` registered in the block,
    newest first. Other cached frames are left alone."""
    held: list[DataFrame] = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for frame in reversed(held):
            frame.unpersist()
