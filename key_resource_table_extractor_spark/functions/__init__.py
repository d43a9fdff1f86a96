"""Result renderings as column expressions (``render.py``; no UDFs)."""
