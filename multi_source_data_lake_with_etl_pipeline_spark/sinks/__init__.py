"""Sink writers (SURVEY.md §2.2 L1-L10). Upserts and deletes (L4 / L10)
run on the versioned lake table: ``lake.LakeTable.merge`` /
``merge_into`` / ``delete`` / ``delete_keys``."""

from .files import write_file  # noqa: F401
from .routing import LoaderManager, MultiTargetLoader, route_by_content  # noqa: F401
