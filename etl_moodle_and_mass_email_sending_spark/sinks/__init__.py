from . import csv_single, smtp  # noqa: F401
